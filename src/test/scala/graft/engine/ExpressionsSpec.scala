package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class ExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      // exercise the SparkSessionExtensions injection path
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("cell functions keep their golden values and stay in codegen") {
    val df = spark.range(500)
      .selectExpr("cast(id % 140 - 70 + 0.17 as double) AS lat",
        "cast(id % 350 - 175 + 0.29 as double) AS lng")
      .selectExpr("h3_latlng_cell(lat, lng, 9) AS cell")
    // all 500 cells, pinned from the Scala-UDF surface (and its codegen
    // twin, which agreed with it cell for cell)
    val digest = df.selectExpr(
      "md5(concat_ws(',', sort_array(collect_list(cell))))", "count(DISTINCT cell)").head()
    assert(digest.getString(0) == "2294a8269e9ed484ecacb40ed47128e5")
    assert(digest.getLong(1) == 500L)
    // known golden
    val sf = spark.sql(
      "SELECT h3_latlng_cell(37.7752702151959D, -122.418307270836D, 9) c")
      .head().getString(0)
    assert(sf == "8928308280fffff")
    // parent + resolution
    val row = spark.sql(
      """SELECT h3_parent('8928308280fffff', 3) p,
        |h3_resolution('8928308280fffff') r""".stripMargin).head()
    assert(row.getString(0) == H3GoldenHelper.parent)
    assert(row.getInt(1) == 9)
    // the projection must be inside WholeStageCodegen (the "*(n)" marker);
    // a codegen fallback would print a bare Project
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("*(1) Project [static_invoke(graft.engine.GraftFunctions.latLngCell("),
      plan)
  }

  test("nulls propagate") {
    val r = spark.sql(
      "SELECT h3_parent(CAST(NULL AS STRING), 3) p").head()
    assert(r.isNullAt(0))
  }

  test("long hot-path natives: shape/parent/hex round-trip and ratio sums to 1") {
    // hex ↔ long round-trip and parent bit math vs the string surface
    val row = spark.sql(
      """SELECT h3_hex(h3_unhex('8928308280fffff')) rt,
        |h3_hex(h3_parent_long(h3_unhex('8928308280fffff'), 3)) p""".stripMargin).head()
    assert(row.getString(0) == "8928308280fffff")
    assert(row.getString(1) == H3GoldenHelper.parent)

    // index_shape over a polygon: explode to cells, PCT_AREA ratios
    // sum to area(g ∩ ∪cells)/area(g) — ≤ 1 exactly, and close to 1 since
    // centroid polyfill only misses boundary slivers whose cell centroid
    // falls outside
    val wkt = "POLYGON ((-122.46 37.73, -122.38 37.73, -122.38 37.81, " +
      "-122.46 37.81, -122.46 37.73))"
    val cells = spark.sql(
      s"""SELECT cell, st_ratio_area_cell('$wkt', cell) ratio,
         |h3_cell_area_cached(cell) area
         |FROM (SELECT explode(h3_index_shape('$wkt', 8)) cell)""".stripMargin)
      .collect()
    assert(cells.length > 5)
    val ratioSum = cells.map(_.getDouble(1)).sum
    assert(ratioSum > 0.85 && ratioSum <= 1.0 + 1e-9,
      s"PCT_AREA ratios sum to $ratioSum")
    cells.foreach(r => assert(r.getDouble(2) > 0.3 && r.getDouble(2) < 1.5,
      s"res-8 cell area ${r.getDouble(2)} km2 out of range"))

    // the cover set, pinned from the hex-string Scala UDF that
    // h3_index_shape was before it returned LONG cells
    val cover = spark.sql(
      s"""SELECT md5(concat_ws(',', sort_array(transform(h3_index_shape('$wkt', 8),
         |  c -> h3_hex(c))))), size(h3_index_shape('$wkt', 8))""".stripMargin).head()
    assert(cover.getString(0) == "21ba27c583c5702efe1920e586af8ad6")
    assert(cover.getInt(1) == 81)
  }

  test("minhash/shingle natives are bit-identical to the Scala kernels and stay in codegen") {
    // deterministic multi-token corpus with repeats (so shingle sets have
    // duplicates to dedup) and short docs (the < n-token edge)
    val docs = spark.range(300).selectExpr(
      "id AS doc_id",
      """concat_ws(' ', transform(sequence(0, CAST(id % 41 AS INT)),
        |  i -> elt(CAST((i * (id % 7 + 2)) % 9 AS INT) + 1,
        |    'alpha','beta','gamma','delta','eps','zeta','eta','theta','iota')))
        |AS text""".stripMargin)
    val df = docs
      .withColumn("shs_n", Expressions.shingleHashesSortedNative(col("text")))
      .withColumn("bands_n", Expressions.minhashBandsNative(col("shs_n")))
    df.collect().foreach { r =>
      val text = r.getString(1)
      assert(r.getSeq[Long](2) == graft.operators.Dedup.shingleHashesSorted(text).toSeq,
        s"shs mismatch doc ${r.getLong(0)}")
      assert(r.getSeq[Long](3) == graft.operators.Dedup.minHashBands(text).toSeq,
        s"bands mismatch doc ${r.getLong(0)}")
    }
    // null-in-null-out (the expressions' documented semantic)
    val nr = spark.range(1).select(
      Expressions.shingleHashesSortedNative(lit(null).cast("string")).as("a"),
      Expressions.minhashBandsNative(lit(null).cast("array<bigint>")).as("b")).head()
    assert(nr.isNullAt(0) && nr.isNullAt(1))
    // the natives-only projection stays inside whole-stage codegen
    val nativeOnly = docs
      .withColumn("shs", Expressions.shingleHashesSortedNative(col("text")))
      .withColumn("bands", Expressions.minhashBandsNative(col("shs")))
    // the native projections must sit inside a WholeStageCodegen span (the
    // "*(n)" marker); the lambda-HOF text generator above them is its own
    // non-codegen Project, so the span index is whatever comes next
    val plan = nativeOnly.queryExecution.executedPlan.toString()
    assert("""\*\(\d+\) Project \[[^\n]*minhash_bands_native""".r
      .findFirstIn(plan).isDefined, plan)
    assert("""\*\(\d+\) Project \[[^\n]*shingle_hashes_sorted_native""".r
      .findFirstIn(plan).isDefined, plan)
    // mistyped children fail at ANALYSIS (ExpectsInputTypes), not as a
    // codegen compile error or a runtime ClassCastException
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(
        Expressions.shingleHashesSortedNative(col("id"))).head()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(Expressions.minhashBandsNative(
        array(lit(1), lit(2)))).head() // array<int>, not array<bigint>
    }
  }

  test("optimizer collapses hex/unhex round-trips and parent chains") {
    // cell as int64 (the hot-path representation the rule targets)
    val df = spark.range(100)
      .selectExpr("cast(id % 140 - 70 + 0.17 as double) AS lat",
        "cast(id % 350 - 175 + 0.29 as double) AS lng")
      .selectExpr("h3_unhex(h3_latlng_cell(lat, lng, 9)) AS cell")
      .localCheckpoint() // pin the plan so each selectExpr below starts clean

    val roundTrip = df.selectExpr("h3_unhex(h3_hex(cell)) AS c")
    val rtOpt = roundTrip.queryExecution.optimizedPlan.toString
    assert(!rtOpt.contains("h3_unhex") && !rtOpt.contains("h3_hex"),
      s"hex/unhex round-trip must be eliminated:\n$rtOpt")
    assert(roundTrip.exceptAll(df.selectExpr("cell AS c")).isEmpty)

    val chained = df.selectExpr("h3_parent_long(h3_parent_long(cell, 7), 4) AS p")
    val chOpt = chained.queryExecution.optimizedPlan.toString
    assert("h3_parent_long".r.findAllIn(chOpt).size == 1,
      s"parent-of-parent must collapse to one call:\n$chOpt")
    assert(chained.exceptAll(df.selectExpr("h3_parent_long(cell, 4) AS p")).isEmpty)

    // a chain that is NOT ancestor-of-ancestor (b > a) must be left alone
    val noRewrite = df.selectExpr("h3_parent_long(h3_parent_long(cell, 4), 7) AS p")
    assert("h3_parent_long".r.findAllIn(
      noRewrite.queryExecution.optimizedPlan.toString).size == 2)
  }
}

object H3GoldenHelper {
  val parent: String = graft.h3.H3.cellToParentString("8928308280fffff", 3)
}
