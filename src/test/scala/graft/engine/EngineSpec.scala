package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.model._

class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  import scala.jdk.CollectionConverters._
  private def df(schema: String, rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType.fromDDL(schema))

  private val R = org.apache.spark.sql.Row

  def pointsInput: (VectorInput, DataFrame) = (
    VectorInput("mypoints", Some(""), None, None, None, "pixel_id",
      GeometryType.Point, None, Some("latitude"), Some("longitude"), Method.Within,
      Seq("population")),
    df("pixel_id BIGINT, latitude DOUBLE, longitude DOUBLE, population DOUBLE", Seq(
      R(1L, 37.7752, -122.4183, 100.0),
      R(2L, 37.7800, -122.4000, 50.0),
      R(3L, 37.9000, -122.3000, 25.0))))

  def linesInput: (VectorInput, DataFrame) = (
    VectorInput("mylines", Some(""), None, None, None, "route_id",
      GeometryType.Line, Some("geometry"), None, None, Method.PctLength,
      Seq("emissions")),
    df("route_id STRING, geometry STRING, emissions DOUBLE", Seq(
      R("r1", "LINESTRING (-122.45 37.75, -122.35 37.78, -122.30 37.80)", 10.0),
      R("r2", "LINESTRING (-122.40 37.70, -122.40 37.76)", 4.0))))

  def polysInput: (VectorInput, DataFrame) = (
    VectorInput("mypolys", Some(""), None, None, None, "GEOID",
      GeometryType.Polygon, Some("geometry"), None, None, Method.PctArea,
      Seq("POPESTIMAT")),
    df("GEOID STRING, geometry STRING, POPESTIMAT BIGINT", Seq(
      R("g1", "POLYGON ((-122.5 37.7, -122.3 37.7, -122.3 37.85, -122.5 37.85, -122.5 37.7))", 1000L),
      R("g2", "POLYGON ((-122.42 37.76, -122.41 37.76, -122.41 37.77, -122.42 37.77, -122.42 37.76))", 10L),
      // bow-tie: repaired by st_makevalid
      R("g3", "POLYGON ((-122.2 37.7, -122.1 37.8, -122.1 37.7, -122.2 37.8, -122.2 37.7))", 77L),
      // null geometry: dropped
      R("g4", null, 5L))))

  test("SparkEntry.entry returns rows on a bare session with nothing registered") {
    // the entry-point smoke check: a plain session, entry(), count rows
    assert(graft.SparkEntry.entry(spark.newSession()).count() > 0)
  }

  test("validator rejects duplicate unique ids") {
    val (in, _) = pointsInput
    val dup = df("pixel_id BIGINT, latitude DOUBLE, longitude DOUBLE, population DOUBLE",
      Seq(R(1L, 37.0, -122.0, 1.0), R(1L, 37.1, -122.1, 2.0)))
    val e = intercept[ValidationError](Validator.validate(spark, in, dup))
    assert(e.getMessage.contains("unique_id"))
  }

  test("validator rejects non-numeric input columns") {
    val (in, _) = pointsInput
    val bad = df("pixel_id BIGINT, latitude DOUBLE, longitude DOUBLE, population STRING",
      Seq(R(1L, 37.0, -122.0, "x")))
    val e = intercept[ValidationError](Validator.validate(spark, in, bad))
    assert(e.getMessage.contains("not numeric"))
  }

  test("points WITHIN: one cell per point, ratio 1, total_count 1") {
    val (in, data) = pointsInput
    val out = Indexer.index(spark, in, Validator.validate(spark, in, data), 6)
    val rows = out.collect()
    assert(rows.length == 3) // one row per point
    rows.foreach { r =>
      assert(r.getAs[Double](Cols.Ratio) == 1.0)
      assert(r.getAs[Int](Cols.TotalCount) == 1)
      assert(r.getAs[Int](Cols.H3Resolution) == 6)
      val ix = r.getAs[Long](Cols.H3Index)
      assert(r.getAs[Long](Cols.H3R3Parent) == graft.h3.H3Index.toParent(ix, 3))
      assert(r.getAs[Double](Cols.H3AreaKm2) > 30 && r.getAs[Double](Cols.H3AreaKm2) < 50)
    }
  }

  test("lines PCT_LENGTH: h3_line-exact cells, valid ratios per route") {
    val (in, data) = linesInput
    val out = Indexer.index(spark, in, Validator.validate(spark, in, data), 6)
    val sums = out.groupBy("route_id").agg(sum(Cols.Ratio).as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sums.keySet == Set("r1", "r2"))
    // Round 6: line cells are the exact h3 v3 h3_line chain (reference
    // parity — h3-pyspark index_shape → h3_line), and the reference's
    // PCT_LENGTH is clip-length/total over exactly those cells. The IJ-space
    // line legitimately cuts corners relative to the planar segment on long
    // legs, so ratio sums are ≤ 1 but NOT ~1 — same numbers the reference
    // produces. The geodesic-superset primitive (H3.geodesicPathCells)
    // retains the sum≈1 property and is spec'd in SpatialJoinSpec's cover.
    sums.values.foreach(s => assert(s > 0.5 && s < 1.0001, s"ratio sum $s"))
    // every per-cell ratio is a valid fraction
    out.select(Cols.Ratio).collect().foreach { r =>
      val x = r.getDouble(0)
      assert(x >= 0.0 && x <= 1.0001, s"ratio $x out of range")
    }
    // total_length_km is st_length_spheroid_km of the input WKT, bit for bit
    data.collect().foreach { r =>
      val (id, wkt) = (r.getString(0), r.getString(1))
      val total = out.where(col("route_id") === id).select(Cols.TotalLengthKm)
        .distinct().collect().map(_.getDouble(0))
      val want = spark.sql(s"SELECT st_length_spheroid_km('$wkt')").head().getDouble(0)
      assert(total.toSeq == Seq(want), s"$id: total_length_km $total vs $want")
    }
  }

  test("polygons PCT_AREA: repaired bow-tie, dropped null, ratios in (0,1]") {
    val (in, data) = polysInput
    val out = Indexer.index(spark, in, Validator.validate(spark, in, data), 6)
    val byId = out.select("GEOID").distinct().collect().map(_.getString(0)).toSet
    // centroid polyfill semantics (v3 parity, SURVEY.md §2.7 note 2): a
    // polygon containing no cell centroid yields zero cells and the feature
    // drops out at explode — so the tiny g2 (and possibly the bow-tie g3)
    // are legitimately absent; the null-geometry g4 must be dropped
    assert(byId.contains("g1") && byId.subsetOf(Set("g1", "g2", "g3")), byId)
    out.collect().foreach { r =>
      val ratio = r.getAs[Double](Cols.Ratio)
      assert(ratio >= 0 && ratio <= 1.0001, s"ratio $ratio")
    }
    // big box ratios sum toward 1 but short of it: boundary slivers whose
    // hexagon centroid falls outside are never candidates (by design)
    val s1 = out.where(col("GEOID") === "g1").agg(sum(Cols.Ratio)).head().getDouble(0)
    assert(s1 > 0.7 && s1 < 1.0001, s"g1 ratio sum $s1")
  }

  test("clipped cells read their area from the CellInfo the ratio builds: no area-only lookups") {
    // the indexer's projection evaluates h3_area_km2 before ratio; an
    // area-only miss there would compute each clipped cell's area twice
    graft.geo.H3Geo.memoClear()
    val misses0 = graft.geo.H3Geo.areaMisses.get()
    Seq(polysInput, linesInput).foreach { case (in, data) =>
      assert(Indexer.index(spark, in, Validator.validate(spark, in, data), 6).collect().nonEmpty)
    }
    assert(graft.geo.H3Geo.areaMisses.get() == misses0)
    assert(graft.geo.H3Geo.memoSize > 0)
  }

  test("PASS_THROUGH/CENTROID validate but are not indexed (method dispatch)") {
    // the reference guards ratio on method and its final projection then
    // fails on the missing column — a PASS_THROUGH line must NOT be
    // silently indexed as PCT_LENGTH (h3_indexer.py:194, vector.py:33-44)
    val (in, data) = linesInput
    val pt = in.copy(method = Method.PassThrough)
    val validated = Validator.validate(spark, pt, data) // validation passes
    val e = intercept[ValidationError](Indexer.index(spark, pt, validated, 6))
    assert(e.getMessage.contains("PassThrough"))
    val (pin, pdata) = polysInput
    val cen = pin.copy(method = Method.Centroid)
    val pvalidated = Validator.validate(spark, cen, pdata)
    val e2 = intercept[ValidationError](Indexer.index(spark, cen, pvalidated, 6))
    assert(e2.getMessage.contains("Centroid"))
  }

  test("resolver: two-input full-outer fold conserves weighted sums") {
    val (pin, pdata) = polysInput
    val (lin, ldata) = linesInput
    val pIdx = Indexer.index(spark, pin, Validator.validate(spark, pin, pdata), 6)
    val lIdx = Indexer.index(spark, lin, Validator.validate(spark, lin, ldata), 6)
    val resolved = Resolver.resolve(spark, Seq(
      Resolver.resolveInput(pIdx, Seq("POPESTIMAT")),
      Resolver.resolveInput(lIdx, Seq("emissions"))), 6)
    val cols = resolved.columns.toSeq
    assert(cols == Seq(Cols.H3Index, Cols.H3Resolution, Cols.H3R3Parent,
      Cols.H3AreaKm2, "sum_POPESTIMAT", "sum_emissions"))
    // conservation: total of sum_emissions == total of emissions×ratio
    val direct = lIdx.agg(sum(col("emissions") * col(Cols.Ratio))).head().getDouble(0)
    val viaResolver = resolved.agg(sum("sum_emissions")).head().getDouble(0)
    assert(math.abs(direct - viaResolver) < 1e-9)
    // hexagons touched by only one input carry nulls in the other's column
    assert(resolved.where(col("sum_POPESTIMAT").isNull).count() > 0)
    assert(resolved.where(col("sum_emissions").isNull).count() > 0)
    // primary key is h3_index
    assert(resolved.count() == resolved.select(Cols.H3Index).distinct().count())
  }

  private def perCell(in: (VectorInput, DataFrame)): DataFrame = {
    val (vi, data) = in
    Resolver.resolveInput(
      Indexer.index(spark, vi, Validator.validate(spark, vi, data), 6),
      vi.inputColumns)
  }

  test("resolver: inputs sharing a sum_ column fail up front, naming it") {
    val a = perCell(polysInput).withColumnRenamed("sum_POPESTIMAT", "sum_x")
    val b = perCell(linesInput).withColumnRenamed("sum_emissions", "sum_x")
    val e = intercept[ValidationError](Resolver.resolve(spark, Seq(a, b), 6))
    assert(e.getMessage.contains("sum_x"), e.getMessage)
  }

  test("resolver: a frame's extra non-sum_ column does not change the folded rows") {
    val p = perCell(polysInput)
    val l = perCell(linesInput)
    val plain = Resolver.resolve(spark, Seq(p, l), 6)
    val noted = Resolver.resolve(spark, Seq(p.withColumn("note", lit("x")), l), 6)
    assert(noted.columns.toSeq == plain.columns.toSeq)
    val rows = plain.collect().toSet
    assert(rows.nonEmpty && noted.collect().toSet == rows)
  }

  test("resolver: mergeDelta on a split corpus equals the from-scratch resolve") {
    import graft.queries.GeoQueries
    val d = "/root/testdata/sf0.001"
    val all = GeoQueries.pointsDf(spark, d)
    val in = GeoQueries.pointsInput
    def res1(batch: org.apache.spark.sql.DataFrame) =
      Resolver.resolveSingle(spark,
        Indexer.index(spark, in, Validator.validate(spark, in, batch), 6), Seq("qty"), 6)
    val merged = Resolver.mergeDelta(spark,
      res1(all.where(pmod(col("point_id"), lit(2)) === 0)),
      res1(all.where(pmod(col("point_id"), lit(2)) === 1)), 6)
    val full = res1(all)
    assert(merged.count() == full.count() && full.count() > 0)
    val joined = merged.select(col(Cols.H3Index), col("sum_qty").as("m"))
      .join(full.select(col(Cols.H3Index), col("sum_qty").as("f")), Cols.H3Index)
    assert(joined.count() == full.count(), "same cell set")
    // identical up to floating summation order
    val worst = joined
      .select(max(abs(col("m") - col("f")) / greatest(abs(col("f")), lit(1e-12))))
      .head().getDouble(0)
    assert(worst < 1e-9, s"relative drift $worst")
  }

  test("resolver normalizes mixed LONG/hex-string h3_index keys before the fold") {
    val (pin, pdata) = polysInput
    val (lin, ldata) = linesInput
    // hex-string frame (a written indexed output read back) + LONG frame
    val written = java.nio.file.Files.createTempDirectory("graft_hexkeys").toString
    GraftJob.write(Indexer.index(spark, pin, Validator.validate(spark, pin, pdata), 6),
      written)
    val pHex = spark.read.parquet(written)
    assert(pHex.schema(Cols.H3Index).dataType == org.apache.spark.sql.types.StringType)
    val lLong = Indexer.index(spark, lin, Validator.validate(spark, lin, ldata), 6)
    val mixed = Resolver.resolve(spark, Seq(
      Resolver.resolveInput(pHex, Seq("POPESTIMAT")),
      Resolver.resolveInput(lLong, Seq("emissions"))), 6)
    val pLong = Indexer.index(spark, pin, Validator.validate(spark, pin, pdata), 6)
    val uniform = Resolver.resolve(spark, Seq(
      Resolver.resolveInput(pLong, Seq("POPESTIMAT")),
      Resolver.resolveInput(lLong, Seq("emissions"))), 6)
    // a mixed fold must not coerce keys to null — same rows as the uniform fold
    assert(mixed.count() == uniform.count())
    assert(mixed.collect().toSet == uniform.collect().toSet)
  }

  test("resolver: a hex-STRING-keyed frame resolves on LONG cells, no ScalaUDF") {
    val (in, data) = polysInput
    val perLong = Resolver.resolveInput(
      Indexer.index(spark, in, Validator.validate(spark, in, data), 6),
      Seq("POPESTIMAT")).localCheckpoint()
    // checkpointed so the STRING key is a genuine source column, not a
    // h3_hex projection the optimizer could fold away
    val perHex = perLong.withColumn(Cols.H3Index, expr(s"h3_hex(${Cols.H3Index})"))
      .localCheckpoint()
    val fromHex = Resolver.resolve(spark, Seq(perHex), 6)
    val udfs = fromHex.queryExecution.optimizedPlan.flatMap(_.expressions)
      .flatMap(_.collect { case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u })
    assert(udfs.isEmpty, udfs.map(_.udfName).mkString(", "))
    val fromLong = Resolver.resolve(spark, Seq(perLong), 6)
    val rows = fromHex.collect()
    assert(rows.nonEmpty && rows.toSet == fromLong.collect().toSet)
    // the resolved cells stay LONG: only the sink and query outputs hex them
    rows.foreach { r =>
      val cell = graft.h3.H3Index.toHexString(r.getAs[Long](Cols.H3Index))
      assert(r.getAs[Double](Cols.H3AreaKm2) == graft.geo.H3Geo.cellAreaKm2(cell))
      assert(graft.h3.H3Index.toHexString(r.getAs[Long](Cols.H3R3Parent)) ==
        graft.geo.H3Geo.parentRes3(cell))
    }
  }

  test("single-input fast path equals general path") {
    val (in, data) = polysInput
    val idx = Indexer.index(spark, in, Validator.validate(spark, in, data), 6)
    val single = Resolver.resolveSingle(spark, idx, Seq("POPESTIMAT"), 6)
    val general = Resolver.resolve(spark,
      Seq(Resolver.resolveInput(idx, Seq("POPESTIMAT"))), 6)
    assert(single.collect().toSet == general.collect().toSet)
  }

  test("mixed-resolution rollup conserves mass and lands on target-res keys") {
    val (pin, pdata) = pointsInput
    val idx7 = Indexer.index(spark, pin, Validator.validate(spark, pin, pdata), 7)
    val per7 = Resolver.resolveInput(idx7, Seq("population"))
    val rolled = Resolver.rollupToRes(per7, 6)
    // exact conservation: re-summing under the ancestor key loses nothing
    val before = per7.agg(sum("sum_population")).head().getDouble(0)
    val after = rolled.agg(sum("sum_population")).head().getDouble(0)
    assert(before == after)
    // every rolled key is a genuine res-6 cell and the ancestor of a source key
    val keys = rolled.select(Cols.H3Index).collect().map(_.getLong(0))
    assert(keys.nonEmpty)
    keys.foreach(k => assert(graft.h3.H3Index.resolution(k) == 6))
    val parents = per7.select(Cols.H3Index).collect()
      .map(r => graft.h3.H3Index.toParent(r.getLong(0), 6)).toSet
    assert(keys.toSet == parents)
  }

  test("S5 sink layout prunes partitions and pushes filters on read-back") {
    val (in, data) = polysInput
    val idx = Indexer.index(spark, in, Validator.validate(spark, in, data), 6)
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    GraftJob.write(idx, out)
    val back = spark.read.parquet(out)
    // cells are written as hex text, one per indexed LONG cell
    val written = back.select(Cols.H3Index).collect().map(_.getString(0)).sorted.toSeq
    val cells = idx.select(Cols.H3Index).collect()
      .map(r => graft.h3.H3Index.toHexString(r.getLong(0))).sorted.toSeq
    assert(written.nonEmpty && written == cells)
    val aParent = back.select("h3_r3_parent").head().getString(0)
    val pruned = back.where(col("h3_r3_parent") === aParent && col("h3_resolution") === 6)
    val plan = pruned.queryExecution.executedPlan.toString()
    // the partition columns must be resolved by directory pruning, not row
    // filters — at 100 TB this is the difference between reading one
    // res-3 slice and scanning the world
    assert(plan.contains("PartitionFilters") && plan.contains("h3_r3_parent"), plan)
    assert(pruned.count() > 0)
    assert(pruned.select("h3_r3_parent").distinct().count() == 1)
    // data-column predicates reach the parquet reader as pushed filters
    val dataFiltered = back.where(col("ratio") > 0.5)
    val p2 = dataFiltered.queryExecution.executedPlan.toString()
    assert(p2.contains("PushedFilters: [IsNotNull(ratio), GreaterThan(ratio,0.5)]"), p2)
  }

  test("config parsing: valid yaml and the validator cascade") {
    val yaml =
      """name: demo
        |version: 1.0.0
        |h3_resolution: 6
        |output_s3_path: s3://bucket/out/
        |inputs:
        |  mypoints:
        |    type: vector
        |    s3_path: s3://bucket/points.parquet
        |    unique_id: id
        |    geometry_type: POINT
        |    lat_column_name: lat
        |    lon_column_name: lon
        |    method: WITHIN
        |    input_columns: [population]
        |""".stripMargin
    val job = JobConfig.fromYaml(yaml).toOption.get
    assert(job.inputs.head.asInstanceOf[graft.model.VectorInput]
      .path.contains("s3a://bucket/points.parquet"))
    assert(job.h3Resolution == 6)

    def errsOf(y: String) = JobConfig.fromYaml(y).left.getOrElse(Nil).mkString("; ")
    assert(errsOf(yaml.replace("1.0.0", "not-semver")).contains("semver"))
    assert(errsOf(yaml.replace("h3_resolution: 6", "h3_resolution: 12")).contains("[3,10]"))
    assert(errsOf(yaml.replace("method: WITHIN", "method: PCT_AREA")).contains("incompatible"))
    assert(errsOf(yaml.replace("    lon_column_name: lon\n", "")).contains("lat+lon"))
    assert(errsOf(yaml + "    glue_catalog_database_name: db\n").contains("mutually exclusive"))
  }
}
