package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine._
import graft.model._

/** The geospatial pipeline exercised as driver-checkable queries. The
  * relational testdata carries no geometry, so deterministic lat/lon are
  * derived from key columns (stable across engines and runs); H3 values
  * cannot be oracle-checked by DuckDB, so these queries run under the
  * driver's rows-only check while their semantics are covered by
  * EngineSpec/H3CoreSpec goldens.
  */
object GeoQueries {

  private val Res = 6

  /** Deterministic pseudo-coordinates from two integer keys: lat in
    * [-69.995, 69.995], lon in [-174.995, 174.995].
    */
  private def latExpr(k1: String, k2: String) =
    expr(s"(pmod($k1 * 31 + $k2 * 17, 14000)) / 100.0 - 70 + 0.005")
  private def lonExpr(k1: String, k2: String) =
    expr(s"(pmod($k1 * 13 + $k2 * 7, 35000)) / 100.0 - 175 + 0.005")

  def pointsDf(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders").select(
      col("o_orderkey").as("point_id"),
      latExpr("o_orderkey", "o_custkey").as("latitude"),
      lonExpr("o_orderkey", "o_custkey").as("longitude"),
      col("o_totalprice").as("qty"))

  def pointsInput: VectorInput = VectorInput("pts", Some(""), None, None, None,
    "point_id", GeometryType.Point, None, Some("latitude"), Some("longitude"),
    Method.Within, Seq("qty"))

  /** lines/polys fan the RAW scan out before the WKT projection: a small
    * input reads as ONE scan task, and the string concat otherwise runs
    * serially inside it and ships WKT strings through the validator's
    * fan-out exchange (measured: 0.7 s single-task stage, 0.6 s CPU, ahead
    * of a 32-task chain on h3_index_lines). With the repartition below the
    * projection the exchange carries three numeric columns and the concat
    * parallelizes; Validator.validate sees the plan already fanned and
    * adds no second exchange. No-op at cluster scale (splits >= cores).
    * Output is unchanged: every column is a row-wise function and the
    * queries end in a total orderBy over unique keys.
    */
  def linesDf(s: SparkSession, dir: String): DataFrame =
    Fanout.ensureByKey(s, T(s, dir, "orders"), col("o_orderkey")).select(
      col("o_orderkey").as("route_id"),
      concat(lit("LINESTRING ("),
        lonExpr("o_orderkey", "1"), lit(" "), latExpr("o_orderkey", "1"), lit(", "),
        lonExpr("o_orderkey", "1") + (pmod(col("o_custkey"), lit(30)) - 15) / 100.0,
        lit(" "),
        latExpr("o_orderkey", "1") + (pmod(col("o_totalprice").cast("long"), lit(30)) - 15) / 100.0,
        lit(")")).as("geometry"),
      col("o_totalprice").as("price"))

  def linesInput: VectorInput = VectorInput("lines", Some(""), None, None, None,
    "route_id", GeometryType.Line, Some("geometry"), None, None,
    Method.PctLength, Seq("price"))

  def polysDf(s: SparkSession, dir: String): DataFrame = {
    val cx = lonExpr("c_custkey", "7")
    val cy = latExpr("c_custkey", "3")
    val h = (pmod(col("c_custkey"), lit(10)) + 5) / 100.0 // half-width 0.05°-0.15°
    // raw-scan fan-out before the WKT concat — see linesDf
    Fanout.ensureByKey(s, T(s, dir, "customer"), col("c_custkey")).select(
      col("c_custkey").as("geo_id"),
      concat(lit("POLYGON (("),
        cx - h, lit(" "), cy - h, lit(", "), cx + h, lit(" "), cy - h, lit(", "),
        cx + h, lit(" "), cy + h, lit(", "), cx - h, lit(" "), cy + h, lit(", "),
        cx - h, lit(" "), cy - h, lit("))")).as("geometry"),
      col("c_acctbal").as("balance"))
  }

  def polysInput: VectorInput = VectorInput("polys", Some(""), None, None, None,
    "geo_id", GeometryType.Polygon, Some("geometry"), None, None,
    Method.PctArea, Seq("balance"))

  private def indexed(s: SparkSession, in: VectorInput, data: DataFrame,
                      res: Int = Res): DataFrame = {
    GraftFunctions.register(s)
    Indexer.index(s, in, Validator.validate(s, in, data), res)
  }

  val qs: Seq[QueryDef] = Seq(
    // §2.7 POINT/WITHIN recipe end-to-end (U1 point path, U2, U3, F11, J1).
    QueryDef("h3_index_points",
      (s, d) => Cols.hexCells(indexed(s, pointsInput, pointsDf(s, d)))
        .orderBy("h3_index", "point_id"),
      headline = true),

    // §2.7 LINE/PCT_LENGTH recipe (path cells, planar length ratio, F10).
    // Unlike points, lines and polygons keep an explicit materialization
    // boundary before the sort: the final orderBy's range exchange
    // samples its child by RE-EXECUTING it, so without one the expensive
    // chain (parse → path-cells → ratio) runs twice per action —
    // invisible at sf0.1 (~0.1 s) but catastrophic at scale where the
    // double pass also thrashes the bounded CellInfo memo (r12 10× soak:
    // 13.7× wall slope without the boundary vs r11's 1.7× with it; 8.9 M
    // ratio calls/action = exactly 2× the pair count). The h3_r3_parent
    // repartition is that boundary: the chain materializes once as
    // shuffle files and the sort samples those. Points skip it — their
    // per-row chain is a native cell call (10× slope 2.1), so the extra
    // exchange costs more than the re-execution.
    QueryDef("h3_index_lines",
      (s, d) => Cols.hexCells(indexed(s, linesInput, linesDf(s, d))
          .repartition(col(Cols.H3R3Parent)))
        .orderBy("h3_index", "route_id"),
      headline = true),

    // §2.7 POLYGON/PCT_AREA recipe (centroid polyfill, area ratio, F11);
    // the same sort boundary as h3_index_lines
    QueryDef("h3_index_polygons",
      (s, d) => Cols.hexCells(indexed(s, polysInput, polysDf(s, d))
          .repartition(col(Cols.H3R3Parent)))
        .orderBy("h3_index", "geo_id"),
      headline = true),

    // full resolver: two inputs, value×ratio group-sum, full-outer fold
    QueryDef("h3_resolve_multi",
      (s, d) => {
        // localCheckpoint the small POST-aggregation frames: the orderBy's
        // range-partitioning sample pass would otherwise re-execute both
        // full indexing pipelines (validate → polyfill → ratio) a second
        // time. Checkpointing after the group-sum truncates lineage at the
        // cheapest point — h3_index + sums, not the wide exploded frames
        // (round-1 finding: persisting string-heavy frames costs more than
        // recomputing with the memo).
        // the two per-input pipelines are independent: checkpoint them
        // CONCURRENTLY (two driver threads, one Spark scheduler) so the
        // resolve costs max(points, polygons), not their sum
        // (r12 A/B: folding both pipelines into ONE plan — relying on AQE
        // to materialize the two subtrees' stages concurrently — measured
        // SLOWER than the two-thread checkpoint form, 1.68 vs 1.46 s
        // min-of-5: each pipeline has 2-3 internally-serial AQE stages and
        // driver threads overlap those cascades fully.)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val pf = Future(Resolver.resolveInput(
          indexed(s, pointsInput, pointsDf(s, d)),
          Seq("qty")).localCheckpoint())
        val gf = Future(Resolver.resolveInput(
          indexed(s, polysInput, polysDf(s, d)),
          Seq("balance")).localCheckpoint())
        val p = Await.result(pf, Duration.Inf)
        val g = Await.result(gf, Duration.Inf)
        Cols.hexCells(Resolver.resolve(s, Seq(p, g), Res)).orderBy("h3_index")
      },
      headline = true),

    // hexagon-neighborhood smoothing (k-ring scatter): every cell's
    // aggregated value contributes to all cells within grid distance 1 —
    // the standard spatial-smoothing pass over an H3-indexed table. One
    // groupBy on the cell, one explode, one groupBy on the neighbor:
    // shuffle volume is 7× the per-cell aggregate (not the raw pairs),
    // which is the scale-correct order. Rows-only (DuckDB has no H3).
    QueryDef("h3_smooth_disk",
      (s, d) => {
        GraftFunctions.register(s)
        val perCell = Resolver.resolveInput(
          indexed(s, pointsInput, pointsDf(s, d)),
          Seq("qty"))
        perCell
          .withColumn("nbr", explode(callUDF("h3_grid_disk", col("h3_index"), lit(1))))
          .groupBy("nbr")
          .agg(sum("sum_qty").as("smooth_qty"), count(lit(1)).as("n_contrib"))
          .select(expr("h3_hex(nbr)").as("h3_index"),
            col("smooth_qty"), col("n_contrib"))
          .orderBy("h3_index")
      }),

    // compacted coverage: per-feature covering cells collapsed to the
    // minimal mixed-resolution set (h3_compact) — the standard trick for
    // shrinking stored coverages; arrays stay per-feature-bounded, so no
    // driver collect and no skew beyond the feature's own cell count.
    QueryDef("h3_compact_coverage",
      (s, d) => {
        GraftFunctions.register(s)
        val idx = indexed(s, polysInput, polysDf(s, d))
        idx.groupBy("geo_id")
          .agg(collect_list("h3_index").as("cells"))
          .select(col("geo_id"),
            size(col("cells")).cast("long").as("n_cells"),
            size(callUDF("h3_compact", col("cells"))).cast("long").as("n_compact"))
          .orderBy("geo_id")
      }),

    // ORACLED conservation check for the k-ring scatter: the decimal total
    // of the scattered values must equal the decimal total of each cell's
    // value × its disk size (the scatter loses/invents nothing), the
    // per-cell sums must re-total to the SOURCE's qty sum — which DuckDB
    // computes exactly — and every res-6 disk here is 7 cells (no
    // pentagons in the synthetic lat/lon range, asserted in-engine rather
    // than assumed).
    QueryDef("h3_smooth_disk_checked",
      (s, d) => {
        GraftFunctions.register(s)
        val perCell = Resolver.resolveInput(
          indexed(s, pointsInput, pointsDf(s, d)),
          Seq("qty"))
        val disks = perCell.withColumn("nbrs",
          callUDF("h3_grid_disk", col("h3_index"), lit(1)))
        val scattered = disks.withColumn("nbr", explode(col("nbrs")))
          .groupBy("nbr")
          .agg(sum(col("sum_qty").cast("decimal(28,2)")).as("smooth_qty"))
        val lhs = scattered.agg(sum(col("smooth_qty")).as("scat_total"))
        val rhs = disks.agg(
          sum(col("sum_qty").cast("decimal(28,2)") * size(col("nbrs"))).as("wgt_total"),
          (sum(when(size(col("nbrs")) === 7, 0L).otherwise(1L)) === 0L).as("all_disks_7"),
          sum(col("sum_qty").cast("decimal(18,2)")).cast("double").as("cell_qty_total"))
        val src = pointsDf(s, d).agg(
          count(lit(1)).as("n_points"),
          sum(col("qty").cast("decimal(18,2)")).cast("double").as("qty_total"))
        lhs.crossJoin(broadcast(rhs)).crossJoin(broadcast(src))
          .select(
            (col("scat_total") === col("wgt_total")).as("scatter_conserves"),
            col("all_disks_7"),
            (col("cell_qty_total") === col("qty_total")).as("cell_total_matches"),
            col("n_points"), col("qty_total"))
      },
      Some("""SELECT true AS scatter_conserves, true AS all_disks_7,
             |  true AS cell_total_matches, count(*) AS n_points,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS qty_total
             |FROM orders""".stripMargin)),

    // ORACLED invariant check for h3_compact: per feature, uncompacting
    // the compacted set back to res 6 must reproduce EXACTLY the original
    // cell set (the sorted-array equality subsumes the 7^Δres count
    // identity, which is also asserted via bit-extracted resolutions).
    // Feature-count note (why h3_compact_coverage has 1497 rows, not the
    // 1500 customers): 3 small high-|latitude| polygons (geo_id 901, 910,
    // 1360 at sf0.01) contain NO res-6 cell centroid, so the
    // centroid-containment polyfill — upstream h3 polyfill semantics —
    // rightly yields zero cells for them. DuckDB can't compute centroid
    // containment, so the oracle pins the boolean invariants plus the
    // feature count's upper bound against the source table.
    QueryDef("h3_compact_coverage_checked",
      (s, d) => {
        GraftFunctions.register(s)
        val idx = indexed(s, polysInput, polysDf(s, d))
        val per = idx.groupBy("geo_id")
          .agg(collect_list("h3_index").as("cells"))
          .withColumn("compact", callUDF("h3_compact", col("cells")))
          .withColumn("roundtrip", expr(
            s"array_sort(h3_uncompact(compact, $Res)) = array_sort(cells)"))
          .withColumn("count_ok", expr(
            s"""aggregate(transform(compact,
               |  c -> CAST(pow(7, $Res - int(shiftright(c, 52) & 15)) AS BIGINT)),
               |  0L, (a, x) -> a + x) = size(cells)""".stripMargin))
          .agg(
            (sum(when(col("roundtrip"), 0L).otherwise(1L)) === 0L).as("all_roundtrip"),
            (sum(when(col("count_ok"), 0L).otherwise(1L)) === 0L).as("all_counts"),
            count(lit(1)).cast("long").as("n_features"))
        val src = T(s, d, "customer").agg(count(lit(1)).as("n_source"))
        per.crossJoin(broadcast(src))
          .select(col("all_roundtrip"), col("all_counts"),
            (col("n_features") <= col("n_source")).as("features_le_source"),
            col("n_source"))
      },
      Some("""SELECT true AS all_roundtrip, true AS all_counts,
             |  true AS features_le_source, count(*) AS n_source
             |FROM customer""".stripMargin)),

    // mixed-resolution resolve: points indexed at res 7 roll up to their
    // res-6 ancestors (exact re-sum under the parent key), polygons index
    // at res 6 directly, and both meet in the ordinary full-outer fold —
    // how inputs indexed at different granularities combine without
    // re-indexing the finer one.
    QueryDef("h3_resolve_multires",
      (s, d) => {
        val p = Resolver.rollupToRes(
          Resolver.resolveInput(
            indexed(s, pointsInput, pointsDf(s, d), res = Res + 1),
            Seq("qty")), Res).localCheckpoint()
        val g = Resolver.resolveInput(
          indexed(s, polysInput, polysDf(s, d)),
          Seq("balance")).localCheckpoint()
        Cols.hexCells(Resolver.resolve(s, Seq(p, g), Res)).orderBy("h3_index")
      }),

    // distributed point-in-polygon spatial join: H3 cells bucket both sides
    // (one shuffle each on the int64 cell, never a cartesian), then exact
    // JTS containment on cell-collocated candidates. The synthetic polygons
    // are axis-aligned squares, so DuckDB can verify the whole join against
    // coordinate arithmetic — the oracle proves the cell-bucketed plan is
    // EXACTLY the geometric truth, not an approximation.
    QueryDef("geo_spatial_join",
      (s, d) => {
        // squares padded 0.0003 off the coordinate lattice: points and
        // edges would otherwise coincide exactly (both live on the same
        // 0.01° grid) and containment at a shared boundary is a 1-ulp
        // coin flip between engines. With the pad every point is ≥3e-4°
        // from every edge — strictly in or strictly out in both.
        val cx = lonExpr("c_custkey", "7")
        val cy = latExpr("c_custkey", "3")
        val h = (pmod(col("c_custkey"), lit(10)) + 5) / 100.0 + 0.0003
        val squares = T(s, d, "customer").select(
          col("c_custkey").as("geo_id"),
          concat(lit("POLYGON (("),
            cx - h, lit(" "), cy - h, lit(", "), cx + h, lit(" "), cy - h, lit(", "),
            cx + h, lit(" "), cy + h, lit(", "), cx - h, lit(" "), cy + h, lit(", "),
            cx - h, lit(" "), cy - h, lit("))")).as("geometry"))
        // bucket at res 6, not 7: the exact containment filter makes the
        // cover resolution purely a cost knob, and res 6 is ~4.7x cheaper
        // to cover (27 vs 147 cells/polygon) while candidate pairs stay
        // within a cell-dilated square of each polygon
        val joined = graft.operators.SpatialJoin.pointsInPolygons(
          pointsDf(s, d), col("latitude"), col("longitude"),
          squares, col("geometry"), 6)
        joined.groupBy("geo_id")
          .agg(count(lit(1)).as("n_points"),
            sum(col("qty").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .orderBy("geo_id")
      },
      Some("""WITH pts AS (SELECT
             |  ((o_orderkey*31 + o_custkey*17) % 14000) / 100.0 - 70 + 0.005 AS lat,
             |  ((o_orderkey*13 + o_custkey*7) % 35000) / 100.0 - 175 + 0.005 AS lon,
             |  o_totalprice AS qty FROM orders),
             |sq AS (SELECT c_custkey AS geo_id,
             |  ((c_custkey*13 + 49) % 35000) / 100.0 - 175 + 0.005 AS cx,
             |  ((c_custkey*31 + 51) % 14000) / 100.0 - 70 + 0.005 AS cy,
             |  ((c_custkey % 10) + 5) / 100.0 + 0.0003 AS h
             |  FROM customer)
             |SELECT geo_id, count(*) AS n_points,
             |CAST(sum(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM pts JOIN sq ON lon > cx - h AND lon < cx + h
             |  AND lat > cy - h AND lat < cy + h
             |GROUP BY geo_id ORDER BY geo_id""".stripMargin),
      headline = true),

    // registered SQL surface (expr-level parity with Sedona's registry)
    QueryDef("h3_sql_surface",
      (s, d) => {
        GraftFunctions.register(s)
        pointsDf(s, d).limit(1000)
          .withColumn("cell", expr(s"h3_latlng_cell(latitude, longitude, $Res)"))
          .selectExpr(
            "point_id", "cell",
            // the *_native column names predate the single function table
            // and stay so the dump does not move; they now read the cell
            // back through the LONG-cell path
            "h3_hex(h3_unhex(cell)) AS cell_native",
            "h3_parent(cell, 3) AS parent",
            "h3_hex(h3_parent_long(h3_unhex(cell), 3)) AS parent_native",
            "h3_resolution(cell) AS res_native",
            "h3_cell_area_km2(cell) AS area_km2",
            "st_length(h3_to_wkt(cell)) AS boundary_len_deg",
            "st_isvalid(h3_to_wkt(cell)) AS boundary_valid")
          .orderBy("point_id")
      }),

    // ORACLED twin for h3_sql_surface — the last rows-only query without an
    // oracle-checked twin. The same registered SQL functions run over
    // a FIXED 1000-point lattice derived from a range, not from any table,
    // so the pinned golden values hold at every SF: n rows, the hex-vs-LONG
    // cell and parent agreements folded to booleans, all boundaries valid
    // with positive length, the DECIMAL-summed cell area,
    // and an md5 over the sorted cell ids (pinning the exact cell
    // assignment of all 1000 coordinates — a golden-vector oracle). The
    // constants were computed once by this engine and cross-checked
    // against H3GoldenSpec's published-vector tests; DuckDB replays them
    // as literals like the other _checked twins.
    QueryDef("h3_sql_surface_checked",
      (s, d) => {
        GraftFunctions.register(s)
        s.range(1, 1001).toDF("pid")
          .withColumn("latitude", expr("(pmod(pid * 31 + 17, 14000)) / 100.0 - 70 + 0.005"))
          .withColumn("longitude", expr("(pmod(pid * 13 + 7, 35000)) / 100.0 - 175 + 0.005"))
          .withColumn("cell", expr(s"h3_latlng_cell(latitude, longitude, $Res)"))
          .withColumn("cell_native", expr("h3_hex(h3_unhex(cell))"))
          .withColumn("wkt", expr("h3_to_wkt(cell)"))
          .agg(
            count(lit(1)).cast("long").as("n_rows"),
            (sum(when(col("cell") === col("cell_native"), 0L).otherwise(1L)) === 0L)
              .as("cell_native_agree"),
            (sum(when(expr("h3_parent(cell, 3) = h3_hex(h3_parent_long(h3_unhex(cell), 3))"), 0L)
              .otherwise(1L)) === 0L).as("parent_native_agree"),
            (sum(when(expr(s"h3_resolution(cell) = $Res"), 0L).otherwise(1L)) === 0L)
              .as("all_res6"),
            (sum(when(expr("st_isvalid(wkt)"), 0L).otherwise(1L)) === 0L)
              .as("all_boundary_valid"),
            (sum(when(expr("st_length(wkt) > 0.0"), 0L).otherwise(1L)) === 0L)
              .as("all_boundary_len_pos"),
            sum(expr("CAST(h3_cell_area_km2(cell) AS DECIMAL(28,9))"))
              .cast("double").as("area_km2_sum"),
            md5(concat_ws(",", sort_array(collect_list(col("cell"))))).as("cells_md5"))
      },
      Some("""SELECT CAST(1000 AS BIGINT) AS n_rows,
             |  true AS cell_native_agree, true AS parent_native_agree,
             |  true AS all_res6, true AS all_boundary_valid,
             |  true AS all_boundary_len_pos,
             |  CAST(CAST('37208.220081429' AS DECIMAL(28,9)) AS DOUBLE) AS area_km2_sum,
             |  '91c6791dd0b9b07cf344ca37b49fb0e8' AS cells_md5""".stripMargin)),

    // Streaming H3 indexing: points indexed to cells as they arrive, per-
    // cell rollup as the only stream state (bounded by DISTINCT CELLS, not
    // rows). Rows-only — DuckDB computes no H3 — with GeoStreamSpec
    // asserting exact equality against the batch twin.
    QueryDef("h3_index_points_stream",
      (s, d) => graft.streaming.GeoStream.pointsRollupStream(s, d, Res)),

    // Streaming GeoJSON ingest: NDJSON features as a file stream → parse →
    // index → per-cell rollup. Rows-only (H3 keys); GeoStreamSpec asserts
    // exact equality with the batch twin over the same NDJSON.
    QueryDef("h3_geojson_ingest_stream",
      (s, d) => graft.streaming.GeoStream.geojsonPointsRollupStream(s, d, Res)),

    // ORACLED check for the streamed point rollup. Row-count note (the
    // 14,936-vs-15,000 question): h3_index_points emits ONE ROW PER POINT
    // (15,000 at sf0.01) while the stream twins emit ONE ROW PER DISTINCT
    // CELL — at res 6, 64 of the 15,000 synthetic points share a cell with
    // another point, leaving 14,936 cells. This query proves the contract
    // behind that delta in-engine: the streamed rollup equals the batch
    // rollup cell-for-cell (count AND decimal sum), distinct cells cannot
    // exceed points, and the per-cell counts/sums re-total to the SOURCE's
    // DuckDB-checkable count(*) and decimal qty sum — so conservation of
    // rows/mass is oracled even though the H3 keys themselves have no
    // DuckDB twin.
    QueryDef("h3_index_points_stream_checked",
      (s, d) => {
        val st = graft.streaming.GeoStream.pointsRollupStream(s, d, Res).as("st")
        val ba = graft.streaming.GeoStream.pointsRollupBatch(s, d, Res).as("ba")
        val j = st.join(ba, Seq("h3_index"), "full_outer")
        val cmp = j.agg(
          (sum(when(col("st.n_points").isNull || col("ba.n_points").isNull ||
            col("st.n_points") =!= col("ba.n_points") ||
            col("st.sum_value") =!= col("ba.sum_value"), 1L).otherwise(0L)) === 0L)
            .as("stream_equals_batch"),
          (count(lit(1)) <= sum(coalesce(col("ba.n_points"), lit(0L))))
            .as("cells_le_points"),
          sum(coalesce(col("ba.n_points"), lit(0L))).cast("long")
            .as("n_points_total"))
        val totals = pointsDf(s, d).agg(
          sum(col("qty").cast("decimal(18,2)")).cast("double").as("qty_total"))
        cmp.crossJoin(broadcast(totals))
          .select("stream_equals_batch", "cells_le_points",
            "n_points_total", "qty_total")
      },
      Some("""SELECT true AS stream_equals_batch, true AS cells_le_points,
             |  count(*) AS n_points_total,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS qty_total
             |FROM orders""".stripMargin)),

    // Same oracled conservation check for the GeoJSON ingest stream: the
    // NDJSON round-trip (write → text stream → JSON pull → st_x/st_y →
    // index → rollup) must reproduce the batch rollup cell-for-cell and
    // re-total to the source's count and decimal qty sum — proving the
    // parse loses no rows and no mass. (Its 14,936 rows are distinct
    // cells, same as above.)
    QueryDef("h3_geojson_ingest_stream_checked",
      (s, d) => {
        val st = graft.streaming.GeoStream.geojsonPointsRollupStream(s, d, Res).as("st")
        val ba = graft.streaming.GeoStream.pointsRollupBatch(s, d, Res).as("ba")
        val j = st.join(ba, Seq("h3_index"), "full_outer")
        val cmp = j.agg(
          (sum(when(col("st.n_points").isNull || col("ba.n_points").isNull ||
            col("st.n_points") =!= col("ba.n_points") ||
            col("st.sum_value") =!= col("ba.sum_value"), 1L).otherwise(0L)) === 0L)
            .as("stream_equals_batch"),
          (count(lit(1)) <= sum(coalesce(col("ba.n_points"), lit(0L))))
            .as("cells_le_points"),
          sum(coalesce(col("ba.n_points"), lit(0L))).cast("long")
            .as("n_points_total"))
        val totals = pointsDf(s, d).agg(
          sum(col("qty").cast("decimal(18,2)")).cast("double").as("qty_total"))
        cmp.crossJoin(broadcast(totals))
          .select("stream_equals_batch", "cells_le_points",
            "n_points_total", "qty_total")
      },
      Some("""SELECT true AS stream_equals_batch, true AS cells_le_points,
             |  count(*) AS n_points_total,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS qty_total
             |FROM orders""".stripMargin)),

    // Validator quarantine: the rows validate() drops (null or irreparable
    // geometry), with the reason — routed to a sink instead of lost (the
    // reference only logs a count, geospatial.py:158-164). Invalid rows
    // are planted deterministically, so DuckDB recomputes the expected
    // quarantine set exactly.
    QueryDef("geo_quarantine",
      (s, d) => {
        GraftFunctions.register(s)
        val src = T(s, d, "customer").select(
          col("c_custkey").cast("long").as("geo_id"),
          when(pmod(col("c_custkey"), lit(41)) === 0,
            lit(null).cast("string"))
            .when(pmod(col("c_custkey"), lit(37)) === 0,
              lit("POLYGON ((0 0, 1 1))")) // malformed: unclosed 2-point ring
            .otherwise(concat(lit("POINT ("),
              lonExpr("c_custkey", "7"), lit(" "),
              latExpr("c_custkey", "3"), lit(")"))).as("geometry"))
        val in = VectorInput("quarantine_demo", Some(""), None, None, None,
          "geo_id", GeometryType.Point, Some("geometry"), None, None,
          Method.Within, Seq())
        Validator.quarantine(s, in, src)
          .select("geo_id", "reject_reason")
          .orderBy("geo_id")
      },
      Some("""SELECT c_custkey AS geo_id,
             |  CASE WHEN c_custkey % 41 = 0 THEN 'null_geometry'
             |       ELSE 'irreparable_geometry' END AS reject_reason
             |FROM customer
             |WHERE c_custkey % 41 = 0 OR c_custkey % 37 = 0
             |ORDER BY geo_id""".stripMargin)),

    // Incremental resolve: the corpus arrives in two batches; each batch is
    // indexed+resolved alone and the second folds into the first via
    // Resolver.mergeDelta (union + per-cell re-sum; cost scales with the
    // delta, not history). Rows-only — H3 keys aren't DuckDB-computable;
    // EngineSpec asserts the merged result equals the from-scratch resolve
    // to 1e-9 relative.
    QueryDef("h3_resolve_incremental",
      (s, d) => {
        GraftFunctions.register(s)
        val all = pointsDf(s, d)
        def res1(batch: org.apache.spark.sql.DataFrame) =
          Resolver.resolveSingle(s,
            indexed(s, pointsInput, batch),
            Seq("qty"), Res)
        val existing = res1(all.where(pmod(col("point_id"), lit(2)) === 0))
        val delta = res1(all.where(pmod(col("point_id"), lit(2)) === 1))
        Cols.hexCells(Resolver.mergeDelta(s, existing, delta, Res)).orderBy("h3_index")
      }),

    // ORACLED invariants for the POINT/WITHIN recipe: every point indexes
    // to EXACTLY one cell with ratio exactly 1.0 (the reference's WITHIN
    // semantics), every cell is res 6 with a res-3 parent and positive
    // area, and the row count and decimal qty total are DuckDB's own
    // aggregates over the source table — so the only rows-only residue in
    // h3_index_points is the H3 key VALUES themselves (golden-tested in
    // H3CoreSpec), not the pipeline's shape.
    QueryDef("h3_index_points_checked",
      (s, d) => {
        GraftFunctions.register(s)
        // h3_resolution reads hex text (a LONG would be cast to its
        // decimal digits and misparsed), so the cells are hexed first
        val idx = Cols.hexCells(indexed(s, pointsInput, pointsDf(s, d)))
        idx.agg(
          (sum(when(col("ratio") === 1.0, 0L).otherwise(1L)) === 0L).as("all_ratio_one"),
          (count(lit(1)) === countDistinct(col("point_id"))).as("one_row_per_point"),
          (sum(when(expr("h3_resolution(h3_index) = 6"), 0L).otherwise(1L)) === 0L)
            .as("all_res6"),
          (sum(when(expr("h3_resolution(h3_r3_parent) = 3"), 0L).otherwise(1L)) === 0L)
            .as("all_parent_res3"),
          (sum(when(col("h3_area_km2") > 0.0, 0L).otherwise(1L)) === 0L).as("all_area_pos"),
          count(lit(1)).cast("long").as("n_points"),
          sum(col("qty").cast("decimal(18,2)")).cast("double").as("qty_total"))
      },
      Some("""SELECT true AS all_ratio_one, true AS one_row_per_point,
             |  true AS all_res6, true AS all_parent_res3, true AS all_area_pos,
             |  count(*) AS n_points,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS qty_total
             |FROM orders""".stripMargin)),

    // ORACLED invariants for the LINE/PCT_LENGTH recipe: each surviving
    // route's pct-length ratios sum into (0, 1] (corner-cut loss keeps the
    // sum ≤ 1 — the reference's own h3_line behavior — and float roundoff
    // gets a 1e-7 guard), every route has ≥1 cell, and the route count is
    // bounded by DuckDB's source count. (At sf0.01, 18 of 15,000 routes
    // are degenerate zero-length LINESTRINGs — start == end after the
    // synthetic offsets cancel — which validate() rightly drops, hence
    // le_source rather than equality.)
    QueryDef("h3_index_lines_checked",
      (s, d) => {
        val idx = indexed(s, linesInput, linesDf(s, d))
        val per = idx.groupBy("route_id")
          .agg(sum("ratio").as("rs"), count(lit(1)).as("nc"))
        val chk = per.agg(
          (sum(when(col("rs") > 0.0 && col("rs") <= 1.0000001, 0L).otherwise(1L)) === 0L)
            .as("all_ratio_sums_ok"),
          (sum(when(col("nc") >= 1, 0L).otherwise(1L)) === 0L).as("all_covered"),
          count(lit(1)).cast("long").as("n_routes"))
        val src = T(s, d, "orders").agg(count(lit(1)).as("n_source"))
        chk.crossJoin(broadcast(src))
          .select(col("all_ratio_sums_ok"), col("all_covered"),
            (col("n_routes") <= col("n_source")).as("routes_le_source"),
            col("n_source"))
      },
      Some("""SELECT true AS all_ratio_sums_ok, true AS all_covered,
             |  true AS routes_le_source, count(*) AS n_source
             |FROM orders""".stripMargin)),

    // ORACLED check for incremental resolve: folding the two half-batches
    // through mergeDelta must reproduce the single-shot resolve
    // cell-for-cell (sums compared at the DECIMAL(18,2) grain the source
    // values live at — double summation order may differ between the two
    // groupings, but by far less than 0.005), and the merged totals are
    // DuckDB's own count/sum over the source. This is the production
    // claim: merge cost scales with the delta, result identical to a full
    // recompute.
    QueryDef("h3_resolve_incremental_checked",
      (s, d) => {
        GraftFunctions.register(s)
        val all = pointsDf(s, d)
        def res1(batch: org.apache.spark.sql.DataFrame) =
          Resolver.resolveSingle(s,
            indexed(s, pointsInput, batch),
            Seq("qty"), Res)
        val merged = Resolver.mergeDelta(s,
          res1(all.where(pmod(col("point_id"), lit(2)) === 0)),
          res1(all.where(pmod(col("point_id"), lit(2)) === 1)), Res)
          .select(col("h3_index"), col("sum_qty").as("m_qty")).as("m")
        val single = res1(all)
          .select(col("h3_index"), col("sum_qty").as("s_qty")).as("sg")
        val j = merged.join(single, Seq("h3_index"), "full_outer")
        val cmp = j.agg(
          (sum(when(col("m_qty").isNull || col("s_qty").isNull ||
            col("m_qty").cast("decimal(18,2)") =!= col("s_qty").cast("decimal(18,2)"),
            1L).otherwise(0L)) === 0L).as("merge_equals_single"),
          sum(col("m_qty").cast("decimal(18,2)")).cast("double").as("qty_total"))
        val src = T(s, d, "orders").agg(count(lit(1)).as("n_points"))
        cmp.crossJoin(broadcast(src))
          .select(col("merge_equals_single"), col("n_points"), col("qty_total"))
      },
      Some("""SELECT true AS merge_equals_single, count(*) AS n_points,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS qty_total
             |FROM orders""".stripMargin)),

    // ORACLED conservation for the mixed-resolution rollup: re-keying the
    // res-7 per-cell sums to their res-6 ancestors must conserve the
    // decimal total exactly (sums re-sum under the parent key), shrink or
    // keep the cell count, and the conserved total is DuckDB's own source
    // aggregate. (Cell-for-cell equality with direct res-6 indexing is NOT
    // an invariant — aperture-7 children overhang their parent hexagon, so
    // a boundary point's res-7 parent can differ from its direct res-6
    // cell; only mass conservation is exact, and that is what ships.)
    QueryDef("h3_resolve_multires_checked",
      (s, d) => {
        GraftFunctions.register(s)
        val p7 = Resolver.resolveInput(
          indexed(s, pointsInput, pointsDf(s, d), res = Res + 1),
          Seq("qty")).localCheckpoint()
        val rolled = Resolver.rollupToRes(p7, Res)
        val a = p7.agg(
          sum(col("sum_qty").cast("decimal(18,2)")).as("t7"),
          count(lit(1)).as("n7"))
        val b = rolled.agg(
          sum(col("sum_qty").cast("decimal(18,2)")).as("t6"),
          count(lit(1)).as("n6"))
        val src = T(s, d, "orders").agg(
          count(lit(1)).as("n_points"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("qty_total"))
        a.crossJoin(broadcast(b)).crossJoin(broadcast(src))
          .select(
            (col("t7") === col("t6")).as("rollup_conserves"),
            (col("n6") <= col("n7")).as("rollup_shrinks"),
            (col("t6").cast("double") === col("qty_total")).as("total_matches_source"),
            col("n_points"), col("qty_total"))
      },
      Some("""SELECT true AS rollup_conserves, true AS rollup_shrinks,
             |  true AS total_matches_source, count(*) AS n_points,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS qty_total
             |FROM orders""".stripMargin)),

    // GeoJSON source round-trip, DuckDB-oracled end-to-end: customer rows
    // become NDJSON Features (geometry + typed properties), are written
    // with the distributed GeoJSON sink, read back through the extension-
    // routed source, and re-emitted as scalars. The oracle recomputes the
    // same values straight from the parquet table — a hash match proves
    // the writer/reader round-trips doubles, longs, and strings exactly
    // (shortest-round-trip JSON formatting on both sides).
    QueryDef("geojson_source_roundtrip",
      (s, d) => {
        GraftFunctions.register(s)
        // pure-double coordinate chain (the D-suffixed literals matter:
        // un-suffixed 100.0 parses as DECIMAL in Spark and the chain
        // becomes decimal-exact, while DuckDB's '/' is always double —
        // 1-ulp drift the hash compare would catch)
        val lonD = expr(
          "cast(pmod(c_custkey * 13 + 49, 35000) as double) / 100.0D - 175.0D + 0.005D")
        val latD = expr(
          "cast(pmod(c_custkey * 31 + 51, 14000) as double) / 100.0D - 70.0D + 0.005D")
        val src = T(s, d, "customer").select(
          col("c_custkey").cast("long").as("geo_id"),
          col("c_name").as("name"),
          col("c_acctbal").as("balance"),
          callUDF("st_point", lonD, latD).as("geom_wkt"))
        val dir = graft.streaming.Scratch.dir("graft_geojson_rt").toString
        graft.sources.GeoJson.write(src, "geom_wkt", dir)
        graft.sources.GeoJson.read(s, dir)
          .select(col("geo_id"), col("name"), col("balance"),
            callUDF("st_x", col("geom_wkt")).as("lon"),
            callUDF("st_y", col("geom_wkt")).as("lat"))
          .orderBy("geo_id")
      },
      Some("""SELECT c_custkey AS geo_id, c_name AS name, c_acctbal AS balance,
             |  ((c_custkey * 13 + 49) % 35000) / 100.0 - 175 + 0.005 AS lon,
             |  ((c_custkey * 31 + 51) % 14000) / 100.0 - 70 + 0.005 AS lat
             |FROM customer ORDER BY geo_id""".stripMargin)),

    // Radius-bounded spatial kNN join: for a deterministic query sample,
    // the 5 nearest OTHER points within 0.5° (planar degrees — the same
    // planar-measure family as F8/F9). The candidate join buckets the
    // corpus on a 0.5° grid and expands each query to its 3×3 cell
    // neighborhood — PROVABLY complete for the radius (any point within
    // 0.5° lies in an adjacent cell), so the distributed grid join returns
    // exactly the brute-force answer the oracle computes. Scale shape: the
    // corpus shuffles once on the cell key; candidates are bounded by
    // local density, never |corpus|·|queries|.
    QueryDef(
      "geo_knn_radius_join",
      (s, d) => {
        // Pure-double coordinate chain, op-for-op the oracle's: latExpr/
        // lonExpr divide by an un-suffixed 100.0 which Spark parses as
        // DECIMAL, so reusing pointsDf made d2 decimal-exact while the
        // DuckDB oracle rounds after EVERY double op — round(d2, 9) then
        // disagreed in the last digit on some pairs (the r8 hash
        // mismatch). Casting the decimal result at the end is not enough
        // (one rounding vs per-op rounding); the chain itself must be
        // double, per the D-suffix rule in geojson_source_roundtrip.
        val pts = T(s, d, "orders").select(
          col("o_orderkey").as("point_id"),
          expr("cast(pmod(o_orderkey * 31 + o_custkey * 17, 14000) as double)" +
            " / 100.0D - 70.0D + 0.005D").as("lat"),
          expr("cast(pmod(o_orderkey * 13 + o_custkey * 7, 35000) as double)" +
            " / 100.0D - 175.0D + 0.005D").as("lon"))
        val withCell = pts
          .withColumn("cx", expr("CAST(floor(lon * 2.0D) AS BIGINT)"))
          .withColumn("cy", expr("CAST(floor(lat * 2.0D) AS BIGINT)"))
        val queries = withCell.where(expr("point_id % 500 = 0"))
          .select(col("point_id").as("qid"), col("lat").as("qlat"),
            col("lon").as("qlon"), col("cx"), col("cy"))
          .withColumn("dxy", explode(expr(
            "flatten(transform(sequence(-1, 1), dx -> transform(sequence(-1, 1), dy -> named_struct('dx', dx, 'dy', dy))))")))
          .select(col("qid"), col("qlat"), col("qlon"),
            (col("cx") + col("dxy.dx")).as("cx"), (col("cy") + col("dxy.dy")).as("cy"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("d2"), col("nid"))
        withCell.join(queries, Seq("cx", "cy"))
          .where(col("point_id") =!= col("qid"))
          .withColumnRenamed("point_id", "nid")
          .withColumn("d2", expr(
            "((lon - qlon) * (lon - qlon)) + ((lat - qlat) * (lat - qlat))"))
          .where(col("d2") <= 0.25)
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 5)
          .select(col("qid"), col("nid"), round(col("d2"), 9).as("d2"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some("""WITH pts AS (SELECT o_orderkey AS point_id,
             |    ((o_orderkey * 31 + o_custkey * 17) % 14000) / 100.0 - 70 + 0.005 AS lat,
             |    ((o_orderkey * 13 + o_custkey * 7) % 35000) / 100.0 - 175 + 0.005 AS lon
             |  FROM orders),
             |q AS (SELECT point_id AS qid, lat AS qlat, lon AS qlon FROM pts
             |  WHERE point_id % 500 = 0),
             |sc AS (SELECT q.qid, p.point_id AS nid,
             |    ((p.lon - q.qlon) * (p.lon - q.qlon)) + ((p.lat - q.qlat) * (p.lat - q.qlat)) AS d2
             |  FROM pts p CROSS JOIN q WHERE p.point_id <> q.qid),
             |f AS (SELECT * FROM sc WHERE d2 <= 0.25),
             |r AS (SELECT qid, nid, d2,
             |    CAST(row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS BIGINT) AS rn
             |  FROM f)
             |SELECT qid, nid, round(d2, 9) AS d2, rn FROM r WHERE rn <= 5
             |ORDER BY qid, rn""".stripMargin)
    ),

    // ORACLED conservation twin for the POLYGON/PCT_AREA path (the
    // hardest geometry recipe — centroid polyfill + OverlayNG clip +
    // spheroid area ratio). Invariants:
    //   * regroup conservation: per-row balance·ratio terms, rounded to a
    //     fixed DECIMAL, re-sum to the SAME total grouped by cell as
    //     grouped by feature (decimal addition is exact and commutative,
    //     so equality is exact, not tolerance-based);
    //   * analytic ratio bounds: each cell's intersection ratio is in
    //     (0, 1], and a feature's ratios sum to ≤ 1 + ε — cell clips are
    //     disjoint, so their spheroid areas can't exceed the polygon's;
    //   * the resolver's double-summed totals agree with the decimal
    //     path to rounding tolerance (N·5e-7 from the per-term round);
    //   * features with ≥1 cell never exceed the source row count.
    // DuckDB can't compute any H3/geodesic value, so the oracle pins the
    // booleans plus the source count — the same construction as
    // h3_smooth_disk_checked.
    QueryDef("h3_index_polygons_checked",
      (s, d) => {
        val idx = indexed(s, polysInput, polysDf(s, d))
        val term = expr("CAST(round(balance * ratio, 6) AS DECIMAL(28,6))")
        val cellTot = idx.groupBy(col(Cols.H3Index))
          .agg(sum(term).as("ct"))
          .agg(sum(col("ct")).as("cell_total"))
        val byFeat = idx.groupBy(col("geo_id"))
          .agg(sum(term).as("ft"), sum(col(Cols.Ratio)).as("sr"),
            min(col(Cols.Ratio)).as("minr"), max(col(Cols.Ratio)).as("maxr"))
        val featAgg = byFeat.agg(
          sum(col("ft")).as("feat_total"),
          (sum(when(col("sr") <= lit(1.0) + lit(1e-9), 0L).otherwise(1L)) === 0L)
            .as("all_cover_le_1"),
          (sum(when(col("minr") > 0.0, 0L).otherwise(1L)) === 0L).as("all_ratio_pos"),
          (sum(when(col("maxr") <= lit(1.0) + lit(1e-12), 0L).otherwise(1L)) === 0L)
            .as("all_ratio_le_1"),
          count(lit(1)).as("n_features"))
        val rv = Resolver.resolveInput(idx, Seq("balance"))
          .agg(sum(col("sum_balance")).as("rv_total"))
        val src = T(s, d, "customer").agg(count(lit(1)).as("n_source"))
        cellTot.crossJoin(broadcast(featAgg))
          .crossJoin(broadcast(rv)).crossJoin(broadcast(src))
          .select(
            (col("cell_total") === col("feat_total")).as("cell_feat_conserves"),
            col("all_cover_le_1"), col("all_ratio_pos"), col("all_ratio_le_1"),
            (abs(col("rv_total") - col("feat_total").cast("double")) <=
              lit(1e-6) * (abs(col("rv_total")) + lit(1.0)))
              .as("resolver_total_close"),
            (col("n_features") <= col("n_source")).as("features_le_source"),
            col("n_source"))
      },
      Some("""SELECT true AS cell_feat_conserves, true AS all_cover_le_1,
             |  true AS all_ratio_pos, true AS all_ratio_le_1,
             |  true AS resolver_total_close, true AS features_le_source,
             |  count(*) AS n_source
             |FROM customer""".stripMargin)),

    // ORACLED conservation twin for the full-outer resolver fold
    // (h3_resolve_multi, the E2E recipe). Invariants:
    //   * qty conservation end-to-end: points index with ratio ≡ 1, so
    //     the folded per-cell sum_qty — rounded to cents and
    //     decimal-summed — must re-total to the DuckDB decimal total of
    //     o_totalprice over the source table;
    //   * the fold loses nothing: per-cell sums carried through the
    //     full-outer join are the SAME doubles as the per-input frames,
    //     so fixed-decimal re-sums match exactly on both value columns;
    //   * cell accounting: |folded| = |points cells| + |polygon cells| −
    //     |shared cells|, every folded row has at least one non-null
    //     side, and the non-null counts equal the per-input row counts.
    QueryDef("h3_resolve_multi_checked",
      (s, d) => {
        GraftFunctions.register(s)
        val p = Resolver.resolveInput(
          indexed(s, pointsInput, pointsDf(s, d)),
          Seq("qty")).localCheckpoint()
        val g = Resolver.resolveInput(
          indexed(s, polysInput, polysDf(s, d)),
          Seq("balance")).localCheckpoint()
        val folded = Resolver.resolve(s, Seq(p, g), Res)
        def cents(c: String) = sum(col(c).cast("decimal(18,2)"))
        def fix4(c: String) = sum(expr(s"CAST(round($c, 4) AS DECIMAL(28,4))"))
        val f = folded.agg(
          count(lit(1)).as("n_folded"),
          cents("sum_qty").cast("double").as("qty_total_f"),
          fix4("sum_qty").as("qty_fix_f"), fix4("sum_balance").as("bal_fix_f"),
          sum(when(col("sum_qty").isNotNull, 1L).otherwise(0L)).as("n_with_qty"),
          sum(when(col("sum_balance").isNotNull, 1L).otherwise(0L)).as("n_with_bal"),
          sum(when(col("sum_qty").isNull && col("sum_balance").isNull, 1L)
            .otherwise(0L)).as("n_both_null"))
        val pp = p.agg(count(lit(1)).as("n_p"), fix4("sum_qty").as("qty_fix_p"))
        val gg = g.agg(count(lit(1)).as("n_g"), fix4("sum_balance").as("bal_fix_g"))
        val both = p.select(col(Cols.H3Index))
          .join(g.select(col(Cols.H3Index)), Seq(Cols.H3Index))
          .agg(count(lit(1)).as("n_both"))
        val src = pointsDf(s, d).agg(
          count(lit(1)).as("n_points"),
          sum(col("qty").cast("decimal(18,2)")).cast("double").as("qty_total"))
        f.crossJoin(broadcast(pp)).crossJoin(broadcast(gg))
          .crossJoin(broadcast(both)).crossJoin(broadcast(src))
          .select(
            (col("qty_total_f") === col("qty_total")).as("qty_conserves"),
            (col("qty_fix_f") === col("qty_fix_p")).as("fold_keeps_qty"),
            (col("bal_fix_f") === col("bal_fix_g")).as("fold_keeps_balance"),
            (col("n_folded") === col("n_p") + col("n_g") - col("n_both"))
              .as("cell_union_counts"),
            (col("n_with_qty") === col("n_p")).as("qty_rows_match"),
            (col("n_with_bal") === col("n_g")).as("balance_rows_match"),
            (col("n_both_null") === 0L).as("no_empty_rows"),
            col("n_points"), col("qty_total"))
      },
      Some("""SELECT true AS qty_conserves, true AS fold_keeps_qty,
             |  true AS fold_keeps_balance, true AS cell_union_counts,
             |  true AS qty_rows_match, true AS balance_rows_match,
             |  true AS no_empty_rows, count(*) AS n_points,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS qty_total
             |FROM orders""".stripMargin))
  )
}
