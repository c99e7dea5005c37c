package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Registration-rot guard: every function the library registers must be
  * invocable through SQL with a representative call, the call list must
  * name exactly the registered table, and the kernels keep their golden
  * values.
  */
class SqlSurfaceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }
  override def afterAll(): Unit = spark.stop()

  private val cell = SqlSurfaceSpec.cell

  test("every registered function answers a representative SQL call") {
    val failures = SqlSurfaceSpec.failures(spark)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("the call list names exactly the registered function table") {
    val called = SqlSurfaceSpec.calls.map(_._1)
    assert(called.distinct.size == called.size, called.diff(called.distinct))
    assert(called.toSet == GraftFunctions.functions.map(_._1).toSet)
    assert(GraftFunctions.functions.map(_._1).distinct.size == GraftFunctions.functions.size)
  }

  test("cells_to_multipolygon dissolves a k-ring into one polygon of the summed area") {
    val r = spark.sql(
      s"""SELECT st_area(h3_cells_to_multipolygon(h3_grid_disk(h3_unhex('$cell'), 1))) AS a,
         |  aggregate(transform(h3_grid_disk(h3_unhex('$cell'), 1),
         |    c -> st_area(h3_to_wkt(h3_hex(c)))), 0.0D, (acc, x) -> acc + x) AS s,
         |  h3_cells_to_multipolygon(h3_grid_disk(h3_unhex('$cell'), 1)) AS wkt
         |""".stripMargin).head()
    // a dissolved k=1 disk is a single simply-connected polygon; its planar
    // area equals the sum of the member cells' areas (shared edges cancel)
    assert(r.getString(2).startsWith("POLYGON"))
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) / r.getDouble(1) < 1e-6,
      s"union area ${r.getDouble(0)} vs sum ${r.getDouble(1)}")
  }

  test("vector natives are bit-identical to the HOF formulation and codegen") {
    val r = spark.sql(
      """SELECT
        |  vec_dot_native(a, b) =
        |    aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v) AS dot_eq,
        |  vec_cosine_native(a, b) =
        |    (aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v) /
        |     (sqrt(aggregate(transform(a, x -> x * x), 0D, (acc, v) -> acc + v)) *
        |      sqrt(aggregate(transform(b, x -> x * x), 0D, (acc, v) -> acc + v)))) AS cos_eq,
        |  vec_cosine_native(array(0D, 0D, 0D, 0D), b) = 0D AS zero_norm,
        |  vec_dot_native(NULL, b) IS NULL AS null_through,
        |  vec_dot_native(array(1D, 2D), b) IS NULL AS ragged_null,
        |  vec_cosine_native(array(1D, 2D), b) IS NULL AS ragged_cos_null
        |FROM (SELECT array(0.1D, -2.5D, 3.75D, 0.003D) AS a,
        |             array(1.5D, 2.25D, -0.5D, 8.125D) AS b)
        |""".stripMargin).head()
    (0 until r.length).foreach(i => assert(r.getBoolean(i), s"field $i"))
    // the kernel call participates in whole-stage codegen: a non-literal
    // input (literals constant-fold at plan time) must sit inside a
    // codegen'd Project — the `*(n)` stage marker
    val df = spark.range(3)
      .selectExpr("vec_dot_native(array(cast(id AS double)), array(2D)) AS d")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("vec_dot_native"), plan)
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("vec_dot_native")), plan)
  }

  test("st_contains_point: in/out/edge goldens, NULL in gives NULL") {
    val r = spark.sql(
      """SELECT
        |  st_contains_point(p, 1D, 1D) AS inside,
        |  NOT st_contains_point(p, 5D, 5D) AS outside,
        |  NOT st_contains_point(p, 2D, 1D) AS on_edge,
        |  st_contains_point(CAST(NULL AS STRING), 1D, 1D) IS NULL AS null_wkt,
        |  st_contains_point(p, CAST(NULL AS DOUBLE), 1D) IS NULL AS null_lat
        |FROM (SELECT 'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))' AS p)
        |""".stripMargin).head()
    (0 until r.length).foreach(i => assert(r.getBoolean(i), r.schema(i).name))
  }

  test("cell kernels keep their golden values") {
    // pinned from the Scala-UDF surface these names replaced (its codegen
    // twins returned the same values, bit for bit)
    val r = spark.sql(
      s"""SELECT h3_latlng_cell(37.77, -122.42, 6), h3_parent('$cell', 3),
         |  h3_hex(h3_unhex('$cell')), h3_cell_area_cached(h3_unhex('$cell')),
         |  h3_cell_area_km2('$cell'),
         |  st_ratio_area_cell(h3_to_wkt('$cell'), h3_unhex('$cell'))
         |""".stripMargin).head()
    assert(r.getString(0) == "86283082fffffff")
    assert(r.getString(1) == "831fb4fffffffff")
    assert(r.getString(2) == cell)
    val area = java.lang.Double.longBitsToDouble(0x404024a572cb6630L) // 32.28629908496475
    assert(r.getDouble(3) == area)
    assert(r.getDouble(4) == area)
    assert(r.getDouble(5) == 1.0)
  }
}

object SqlSurfaceSpec {

  val cell = "861fb4667ffffff" // res-6 cell (SF area)

  // one representative invocation per registered function
  val calls: Seq[(String, String)] = Seq(
    "h3_latlng_cell" -> "h3_latlng_cell(37.77, -122.42, 6)",
    "h3_parent" -> s"h3_parent('$cell', 3)",
    "h3_resolution" -> s"h3_resolution('$cell')",
    "h3_parent_res3" -> s"h3_parent_res3('$cell')",
    "h3_to_wkt" -> s"length(h3_to_wkt('$cell'))",
    "h3_cell_area_km2" -> s"h3_cell_area_km2('$cell')",
    "h3_cell_info" -> s"h3_cell_info('$cell')._2",
    "h3_index_shape" -> "size(h3_index_shape('POINT (-122.42 37.77)', 6))",
    "h3_polyfill_tasks" ->
      "size(h3_polyfill_tasks('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))', 6))",
    "h3_cells_under" ->
      "size(h3_cells_under('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))', 0L, 6))",
    "h3_polyfill_est" -> "h3_polyfill_est('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))', 6)",
    "st_ratio_area_cell" -> s"st_ratio_area_cell(h3_to_wkt('$cell'), h3_unhex('$cell'))",
    "st_ratio_length_cell" -> s"st_ratio_length_cell('LINESTRING (-122.42 37.77, -122.40 37.78)', h3_unhex('$cell'))",
    "h3_cell_area_cached" -> s"h3_cell_area_cached(h3_unhex('$cell'))",
    "h3_parent_long" -> s"h3_parent_long(h3_unhex('$cell'), 3)",
    "h3_hex" -> s"h3_hex(h3_unhex('$cell'))",
    "h3_unhex" -> s"h3_unhex('$cell')",
    "h3_grid_disk" -> s"size(h3_grid_disk(h3_unhex('$cell'), 1))",
    "h3_grid_distance" -> s"h3_grid_distance(h3_unhex('$cell'), h3_unhex('$cell'))",
    "h3_is_valid" -> s"h3_is_valid(h3_unhex('$cell'))",
    "h3_is_pentagon" -> s"h3_is_pentagon(h3_unhex('$cell'))",
    "h3_children" -> s"size(h3_children(h3_unhex('$cell'), 7))",
    "h3_compact" -> s"size(h3_compact(h3_children(h3_unhex('$cell'), 7)))",
    "h3_uncompact" -> s"size(h3_uncompact(array(h3_unhex('$cell')), 7))",
    "h3_cells_to_multipolygon" ->
      s"length(h3_cells_to_multipolygon(h3_grid_disk(h3_unhex('$cell'), 1)))",
    "st_point" -> "st_point(-122.42, 37.77)",
    "st_x" -> "st_x('POINT (1 2)')",
    "st_y" -> "st_y('POINT (1 2)')",
    "st_astext" -> "st_astext('POINT (1 2)')",
    "st_asgeojson" -> "st_asgeojson('POINT (1 2)')",
    "st_makevalid" -> "st_makevalid('POLYGON ((0 0, 1 1, 1 0, 0 1, 0 0))')",
    "st_isvalid" -> "st_isvalid('POINT (1 2)')",
    "st_area" -> "st_area('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')",
    "st_length" -> "st_length('LINESTRING (0 0, 3 4)')",
    "st_area_spheroid_km2" -> "st_area_spheroid_km2('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')",
    "st_length_spheroid_km" -> "st_length_spheroid_km('LINESTRING (0 0, 0 1)')",
    "st_intersection" -> "st_intersection('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))', 'POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))')",
    "st_ratio_area" -> "st_ratio_area('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))', 'POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))')",
    "st_ratio_length" -> "st_ratio_length('LINESTRING (0 0, 2 0)', 'POLYGON ((1 -1, 3 -1, 3 1, 1 1, 1 -1))')",
    "st_cover_cells" -> "size(st_cover_cells('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))', 5))",
    "st_contains_point" ->
      "st_contains_point('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))', 1D, 1D)",
    "l2_normalize_native" -> "l2_normalize_native(array(3D, 4D))",
    "vec_dot_native" -> "vec_dot_native(array(1D, 2D, 3D), array(4D, 5D, 6D))",
    "vec_cosine_native" -> "vec_cosine_native(array(1D, 0D), array(1D, 1D))",
    "vec_cosine_f_native" ->
      "vec_cosine_f_native(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), array(CAST(1 AS FLOAT), CAST(1 AS FLOAT)))"
  )

  /** The calls that fail on `spark`, each as `name: first error line`. */
  def failures(spark: SparkSession): Seq[String] = calls.flatMap { case (name, sql) =>
    try { spark.sql(s"SELECT $sql").head(); None }
    catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
  }
}
