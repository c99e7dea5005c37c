package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.model._

/** S4 JDBC option wiring (offline — asserts construction, not connection),
  * job lifecycle metadata, resolution-scaled shuffle partitions, and whole
  * jobs over degenerate inputs.
  */
class JobLifecycleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }
  override def afterAll(): Unit = spark.stop()

  private val R = org.apache.spark.sql.Row
  import scala.jdk.CollectionConverters._
  private def df(schema: String, rows: Seq[org.apache.spark.sql.Row]) =
    spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType.fromDDL(schema))

  private def glueInput(where: Option[String]) = VectorInput(
    "gi", None, Some("mydb"), Some("mytable"), where, "id",
    GeometryType.Point, None, Some("lat"), Some("lon"), Method.Within, Seq("v"))

  test("S4 jdbc options mirror the reference's Athena wiring") {
    val opts = GraftJob.jdbcOptions(glueInput(Some("region = 'us-west-2'")))
    assert(opts("driver") == "com.simba.athena.jdbc.Driver")
    assert(opts("url").startsWith("jdbc:awsathena://"))
    assert(opts("WorkGroup") == "ReadOnlyWorkGroup")
    assert(opts("AwsCredentialsProviderClass").contains("DefaultAWSCredentialsProviderChain"))
    // the user predicate is pushed into the source query (P6), quoted like
    // the reference: SELECT * FROM db."table" WHERE ...
    assert(opts("query") == """SELECT * FROM mydb."mytable" WHERE region = 'us-west-2'""")
    val noWhere = GraftJob.jdbcOptions(glueInput(None))
    assert(noWhere("query") == """SELECT * FROM mydb."mytable"""")
  }

  test("resolution-scaled shuffle partitions follow the reference mapping") {
    assert(graft.Sessions.shufflePartitionsFor(3) == 100)
    assert(graft.Sessions.shufflePartitionsFor(6) == 800)
    assert(graft.Sessions.shufflePartitionsFor(10) == 8000)
  }

  test("job run advances lifecycle to CompletedResolver") {
    val dir = java.nio.file.Files.createTempDirectory("graftjob")
    val data = df("pid BIGINT, lat DOUBLE, lon DOUBLE, v DOUBLE", Seq(
      R(1L, 37.7, -122.4, 10.0), R(2L, 37.8, -122.3, 5.0)))
    data.write.mode("overwrite").parquet(s"$dir/pts.parquet")
    val job = Job("j", "1.0.0", 6, s"$dir/out", Seq(VectorInput(
      "pts", Some(s"$dir/pts.parquet"), None, None, None, "pid",
      GeometryType.Point, None, Some("lat"), Some("lon"), Method.Within, Seq("v"))))
    val (_, resolved, state) = GraftJob.run(spark, job)
    assert(resolved.count() == 2)
    assert(state.status == JobStatus.CompletedResolver)
    assert(state.errorMessage.isEmpty)
    assert(state.id.length == 12)
    assert(state.updatedAt.exists(!_.isBefore(state.createdAt)))
  }

  test("job run failure captures Failed state and the error") {
    val dir = java.nio.file.Files.createTempDirectory("graftjob2")
    // duplicate unique ids → validation failure
    val data = df("pid BIGINT, lat DOUBLE, lon DOUBLE, v DOUBLE", Seq(
      R(1L, 37.7, -122.4, 10.0), R(1L, 37.8, -122.3, 5.0)))
    data.write.mode("overwrite").parquet(s"$dir/pts.parquet")
    val job = Job("j", "1.0.0", 6, s"$dir/out", Seq(VectorInput(
      "pts", Some(s"$dir/pts.parquet"), None, None, None, "pid",
      GeometryType.Point, None, Some("lat"), Some("lon"), Method.Within, Seq("v"))))
    val e = intercept[GraftJob.JobFailed](GraftJob.run(spark, job))
    assert(e.state.status == JobStatus.Failed)
    assert(e.state.errorMessage.exists(_.contains("unique_id")))
  }

  test("quarantine_path opt-in writes dropped rows with reasons; resolve unaffected") {
    val dir = java.nio.file.Files.createTempDirectory("graftq")
    val data = df("pid BIGINT, lat DOUBLE, lon DOUBLE, v DOUBLE", Seq(
      R(1L, 37.7, -122.4, 10.0), R(2L, null, -122.3, 5.0), R(3L, 37.9, -122.2, 7.0)))
    data.write.mode("overwrite").parquet(s"$dir/pts.parquet")
    val job = Job("j", "1.0.0", 6, s"$dir/out", Seq(VectorInput(
      "pts", Some(s"$dir/pts.parquet"), None, None, None, "pid",
      GeometryType.Point, None, Some("lat"), Some("lon"), Method.Within, Seq("v"))),
      quarantinePath = Some(s"$dir/rejects"))
    val (_, resolved, state) = GraftJob.run(spark, job)
    assert(state.status == JobStatus.CompletedResolver)
    assert(resolved.count() == 2) // null-lat row dropped from the main path
    val q = spark.read.parquet(s"$dir/rejects")
    assert(q.count() == 1)
    val row = q.select("pid", "reject_reason", "input_name").head()
    assert(row.getLong(0) == 2L)
    assert(row.getString(1) == "null_geometry")
    assert(row.getString(2) == "pts")
  }

  test("quarantine rerun with zero rejects clears the input's stale partition") {
    val dir = java.nio.file.Files.createTempDirectory("graftq2")
    def jobFor(path: String) = Job("j", "1.0.0", 6, s"$dir/out", Seq(VectorInput(
      "pts", Some(path), None, None, None, "pid",
      GeometryType.Point, None, Some("lat"), Some("lon"), Method.Within, Seq("v"))),
      quarantinePath = Some(s"$dir/rejects"))
    // run 1: one reject lands in the pts partition
    val bad = df("pid BIGINT, lat DOUBLE, lon DOUBLE, v DOUBLE", Seq(
      R(1L, 37.7, -122.4, 10.0), R(2L, null, -122.3, 5.0)))
    bad.write.mode("overwrite").parquet(s"$dir/bad.parquet")
    GraftJob.run(spark, jobFor(s"$dir/bad.parquet"))
    assert(spark.read.parquet(s"$dir/rejects").count() == 1)
    // run 2: all rows valid — the previous reject must NOT survive the rerun
    val good = df("pid BIGINT, lat DOUBLE, lon DOUBLE, v DOUBLE", Seq(
      R(1L, 37.7, -122.4, 10.0), R(2L, 37.8, -122.3, 5.0)))
    good.write.mode("overwrite").parquet(s"$dir/good.parquet")
    GraftJob.run(spark, jobFor(s"$dir/good.parquet"))
    assert(spark.read.parquet(s"$dir/rejects/input_name=pts").count() == 0,
      "a zero-reject rerun must clear the input's stale quarantine partition")
  }

  /** A polygon (PCT_AREA) job over `rows` of (gid, wkt, v), with its
    * rejects quarantined; runs and writes it like `graft.cli.Main run-all`.
    * Returns the state, the written resolved rows and the rejects.
    */
  private def runPolygonJob(tag: String, rows: Seq[org.apache.spark.sql.Row]) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graftdeg_$tag")
    df("gid BIGINT, wkt STRING, v DOUBLE", rows)
      .write.mode("overwrite").parquet(s"$dir/polys.parquet")
    val job = Job("j", "1.0.0", 6, s"$dir/out", Seq(VectorInput(
      "polys", Some(s"$dir/polys.parquet"), None, None, None, "gid",
      GeometryType.Polygon, Some("wkt"), None, None, Method.PctArea, Seq("v"))),
      quarantinePath = Some(s"$dir/rejects"))
    val (indexed, resolved, state) = GraftJob.run(spark, job)
    indexed.foreach { case (n, f) => GraftJob.write(f, s"$dir/out/indexed/$n") }
    GraftJob.write(resolved, s"$dir/out/resolved")
    indexed.values.foreach(_.unpersist(true))
    val rejects = spark.read.schema("gid BIGINT, reject_reason STRING")
      .parquet(s"$dir/rejects/input_name=polys")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // an explicit schema: a write of zero rows leaves no file to infer from
    val resolvedRows = spark.read.schema("h3_index STRING")
      .parquet(s"$dir/out/resolved").count()
    (state, resolvedRows, rejects)
  }

  test("degenerate input: an empty polygon input completes with 0 resolved rows") {
    val (state, resolvedRows, rejects) = runPolygonJob("empty", Seq.empty)
    assert(state.status == JobStatus.CompletedResolver)
    assert(resolvedRows == 0)
    assert(rejects.isEmpty)
  }

  test("degenerate input: an all-null geometry column completes, never splits") {
    val rows = Seq(R(1L, null, 1.0), R(2L, null, 2.0))
    // the split probe's estimate is NULL for every row: no maximum, no split
    val probe = df("gid BIGINT, wkt STRING, v DOUBLE", rows).select("wkt")
    assert(!PolySplit.withThreshold(0.0)(PolySplit.shouldSplit(probe, "wkt", 6)))
    val (state, resolvedRows, rejects) = runPolygonJob("allnull", rows)
    assert(state.status == JobStatus.CompletedResolver)
    assert(resolvedRows == 0)
    assert(rejects == Map(1L -> "null_geometry", 2L -> "null_geometry"))
  }

  test("degenerate input: a malformed WKT row is quarantined, the rest resolves") {
    val (state, resolvedRows, rejects) = runPolygonJob("malformed", Seq(
      R(1L, "POLYGON ((0 0, 1 1))", 1.0), // unclosed 2-point ring
      R(2L, "POLYGON ((-122.46 37.73, -122.38 37.73, -122.38 37.81, " +
        "-122.46 37.81, -122.46 37.73))", 2.0)))
    assert(state.status == JobStatus.CompletedResolver)
    assert(resolvedRows > 0)
    assert(rejects == Map(1L -> "irreparable_geometry"))
    val (state1, resolvedRows1, rejects1) =
      runPolygonJob("malformed_only", Seq(R(1L, "POLYGON ((0 0, 1 1))", 1.0)))
    assert(state1.status == JobStatus.CompletedResolver)
    assert(resolvedRows1 == 0)
    assert(rejects1 == Map(1L -> "irreparable_geometry"))
  }

  test("degenerate input: a polygon with a hole past the split threshold indexes as the unsplit job") {
    val shell = "(10 50, 10.6 50, 10.6 50.4, 10 50.4, 10 50)"
    val hole = "(10.2 50.1, 10.4 50.1, 10.4 50.3, 10.2 50.3, 10.2 50.1)"
    val wkt = s"POLYGON ($shell, $hole)"
    val dir = java.nio.file.Files.createTempDirectory("graftdeg_hole")
    df("gid BIGINT, wkt STRING, v DOUBLE", Seq(R(1L, wkt, 1.0)))
      .write.mode("overwrite").parquet(s"$dir/polys.parquet")
    val job = Job("j", "1.0.0", 7, s"$dir/out", Seq(VectorInput(
      "polys", Some(s"$dir/polys.parquet"), None, None, None, "gid",
      GeometryType.Polygon, Some("wkt"), None, None, Method.PctArea, Seq("v"))))
    /** (gid, h3_index, ratio) rows, the distinct total_area_km2 values and
      * whether the plan took the split polyfill.
      */
    def indexedAt(threshold: Double) = PolySplit.withThreshold(threshold) {
      val (indexed, _, state) = GraftJob.run(spark, job)
      assert(state.status == JobStatus.CompletedResolver)
      val f = indexed("polys")
      val split = f.queryExecution.executedPlan.toString.contains("cellsUnderArray")
      val rows = f.select("gid", Cols.H3Index, Cols.Ratio).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      val totals = f.select(Cols.TotalAreaKm2).distinct().collect().map(_.getDouble(0)).toSeq
      f.unpersist(true)
      (rows, totals, split)
    }
    val (splitRows, splitTotals, splitEngaged) = indexedAt(10.0)
    val (wholeRows, wholeTotals, wholeEngaged) = indexedAt(Double.MaxValue)
    assert(splitEngaged && !wholeEngaged)
    assert(splitRows.nonEmpty && splitRows == wholeRows)
    // shell area minus hole area, both from the one geodesic solver
    def ringM2(ring: String) = math.abs(graft.geo.GeodesicExact.ringArea(
      ring.stripPrefix("(").stripSuffix(")").split(", ").map { xy =>
        val Array(x, y) = xy.split(" ").map(_.toDouble); (x, y) }))
    val want = (ringM2(shell) - ringM2(hole)) / 1e6
    assert(splitTotals == Seq(want) && wholeTotals == Seq(want),
      s"total_area_km2 $splitTotals / $wholeTotals vs $want")
  }

  /** `GraftJob.run` over a WITHIN point input with one row per id in
    * `ids` (NULL allowed), each point in its own res-6 cell.
    */
  private def runPointJob(tag: String, ids: Seq[java.lang.Long]) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graftpk_$tag")
    df("pid BIGINT, lat DOUBLE, lon DOUBLE, v DOUBLE", ids.zipWithIndex.map {
      case (id, i) => R(id, 37.7 + i * 0.1, -122.4, 1.0) })
      .write.mode("overwrite").parquet(s"$dir/pts.parquet")
    GraftJob.run(spark, Job("j", "1.0.0", 6, s"$dir/out", Seq(VectorInput(
      "pts", Some(s"$dir/pts.parquet"), None, None, None, "pid",
      GeometryType.Point, None, Some("lat"), Some("lon"), Method.Within, Seq("v")))))
  }

  test("degenerate input: one NULL unique_id is one key and the job completes") {
    // the reference's PK check counts select(uid).distinct(), where NULL
    // is a key like any other (validator.py:15-36)
    val (_, resolved, state) = runPointJob("onenull", Seq(null, 2L))
    assert(state.status == JobStatus.CompletedResolver)
    assert(resolved.count() == 2)
  }

  test("degenerate input: two NULL unique_ids fail PK validation, naming the NULLs") {
    val e = intercept[GraftJob.JobFailed](runPointJob("twonull", Seq(null, null, 3L)))
    assert(e.state.status == JobStatus.Failed)
    assert(e.state.errorMessage.exists(m =>
      m.contains("unique_id") && m.contains("2 NULL ids")), e.state.errorMessage)
  }

  test("degenerate path: an input under a directory with a space runs, and its rewrite is re-validated") {
    // Spark lists such a file URI-encoded (file:/…/a%20b/…), which the
    // session memo's input-version signature parses
    val dir = java.nio.file.Files.createTempDirectory("graft path").resolve("a b")
    val path = s"$dir/pts.parquet"
    def writeInput(ids: Seq[Long]): Unit =
      df("pid BIGINT, lat DOUBLE, lon DOUBLE, v DOUBLE", ids.zipWithIndex.map {
        case (id, i) => R(id, 37.7 + i * 0.1, -122.4, 1.0) })
        .write.mode("overwrite").parquet(path)
    val job = Job("j", "1.0.0", 6, s"$dir/out", Seq(VectorInput(
      "pts", Some(path), None, None, None, "pid",
      GeometryType.Point, None, Some("lat"), Some("lon"), Method.Within, Seq("v"))))
    writeInput(Seq(1L, 2L))
    val (_, resolved, state) = GraftJob.run(spark, job)
    assert(state.status == JobStatus.CompletedResolver)
    GraftJob.write(resolved, s"$dir/out/resolved")
    assert(spark.read.parquet(s"$dir/out/resolved").count() == 2)
    // the same path rewritten in place with a duplicate id: the PK verdict
    // memoized for the first version must not be reused
    writeInput(Seq(1L, 1L))
    val e = intercept[GraftJob.JobFailed](GraftJob.run(spark, job))
    assert(e.state.status == JobStatus.Failed)
    assert(e.state.errorMessage.exists(_.contains("unique_id")))
  }

  test("quarantine_path parses from yaml and normalizes s3 scheme") {
    val y =
      """name: j
        |version: 1.0.0
        |h3_resolution: 6
        |output_s3_path: s3://b/out
        |quarantine_s3_path: s3://b/rejects
        |inputs:
        |  pts:
        |    s3_path: s3://b/pts
        |    unique_id: pid
        |    geometry_type: POINT
        |    lat_column_name: lat
        |    lon_column_name: lon
        |    method: WITHIN
        |    input_columns: [v]
        |""".stripMargin
    val job = JobConfig.fromYaml(y).toOption.get
    assert(job.quarantinePath.contains("s3a://b/rejects"))
  }

  test("raster inputs validate then no-op, exactly like the reference") {
    // a valid raster input parses (s3_uri checked) …
    val yaml =
      """name: j
        |version: 1.0.0
        |h3_resolution: 6
        |output_path: /tmp/x
        |inputs:
        |  dem:
        |    type: raster
        |    s3_uri: s3://bucket/dem.tif
        |""".stripMargin
    val job = JobConfig.fromYaml(yaml).toOption.get
    assert(job.inputs == Seq(RasterInput("dem", "s3://bucket/dem.tif")))

    // … a malformed s3_uri is a validation error (raster.py:29-38) …
    val bad = JobConfig.fromYaml(yaml.replace("s3://bucket/dem.tif", "/local/dem.tif"))
    assert(bad.swap.toOption.get.exists(_.contains("S3 URI must start with s3://")))

    // … and a mixed job indexes ONLY the vector input (main.py:52): the
    // raster is carried but silently skipped, not an error
    val dir = java.nio.file.Files.createTempDirectory("graftraster")
    val data = df("pid BIGINT, lat DOUBLE, lon DOUBLE, v DOUBLE", Seq(
      R(1L, 37.7, -122.4, 10.0), R(2L, 37.8, -122.3, 5.0)))
    data.write.mode("overwrite").parquet(s"$dir/pts.parquet")
    val mixed = Job("j", "1.0.0", 6, s"$dir/out", Seq(
      VectorInput("pts", Some(s"$dir/pts.parquet"), None, None, None, "pid",
        GeometryType.Point, None, Some("lat"), Some("lon"), Method.Within, Seq("v")),
      RasterInput("dem", "s3://bucket/dem.tif")))
    val (indexed, resolved, state) = GraftJob.run(spark, mixed)
    assert(indexed.keySet == Set("pts"))
    assert(resolved.count() == 2)
    assert(state.status == JobStatus.CompletedResolver)
  }

  test("a yaml config carrying the retired materialize_geojson key still parses") {
    val yaml =
      """name: j
        |version: 1.0.0
        |h3_resolution: 6
        |output_path: /tmp/x
        |materialize_geojson: true
        |inputs:
        |  a:
        |    s3_path: s3://b/p.parquet
        |    unique_id: id
        |    geometry_type: POINT
        |    lat_column_name: lat
        |    lon_column_name: lon
        |    method: WITHIN
        |    input_columns: [v]
        |""".stripMargin
    val job = JobConfig.fromYaml(yaml).toOption.get
    assert(job.inputs.head.asInstanceOf[graft.model.VectorInput]
      .path.contains("s3a://b/p.parquet"))
  }
}
