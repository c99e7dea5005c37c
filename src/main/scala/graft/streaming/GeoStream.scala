package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming H3 indexing: points are indexed to cells AS THEY ARRIVE and
  * rolled up per cell — the continuous-ingestion shape of the reference's
  * batch WITHIN pipeline (index → ratio 1.0 → per-cell aggregate). The
  * whole map side (lat/lng → int64 cell via the native codegen expression)
  * runs inside the stream's microbatches; only the per-cell aggregate is
  * stateful, and its state is bounded by the number of DISTINCT CELLS, not
  * rows — the same cells-sized convergence the batch resolver has.
  *
  * Driven with Trigger.AvailableNow over a staged file-stream source, so
  * the result is a checkable DataFrame; GeoStreamSpec asserts it equals
  * the batch twin EXACTLY (same cells, same counts, same decimal sums).
  */
object GeoStream {

  /** Per-cell rollup of the streamed points table: cell, n_points, sum of
    * the value column (decimal-exact). Mirrors
    * Indexer.index(POINT/WITHIN) → Resolver.resolveInput on the batch side.
    */
  def pointsCellRollup(spark: SparkSession, points: DataFrame, res: Int,
                       latCol: String, lngCol: String, valueCol: String): DataFrame = {
    graft.engine.GraftFunctions.register(spark)
    val indexed = points
      .withColumn("h3_index",
        expr(s"h3_unhex(h3_latlng_cell($latCol, $lngCol, $res))"))
    val agg = indexed.groupBy("h3_index")
      .agg(count(lit(1)).as("n_points"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("sum_value"))
    agg.select(expr("h3_hex(h3_index)").as("h3_index"),
      col("n_points"), col("sum_value"))
  }

  /** The streaming twin driven to completion (AvailableNow, complete mode —
    * the per-cell aggregate is the only state).
    */
  def pointsRollupStream(spark: SparkSession, dir: String, res: Int): DataFrame = {
    // file-stream sources read directories; stage the source parquet
    val src = StreamRun.parts(spark, Seq(graft.queries.GeoQueries.pointsDf(spark, dir)))
    val rolled = pointsCellRollup(spark, src.stream(), res,
      "latitude", "longitude", "qty")
    StreamRun.toMemory(rolled, src.dir, OutputMode.Complete())._1.orderBy("h3_index")
  }

  /** Batch twin over the same source (for the spec's exact-equality check
    * and the registered query's rows-only dump).
    */
  def pointsRollupBatch(spark: SparkSession, dir: String, res: Int): DataFrame =
    pointsCellRollup(spark, graft.queries.GeoQueries.pointsDf(spark, dir), res,
      "latitude", "longitude", "qty")
      .orderBy("h3_index")

  /** Streaming GeoJSON ingest: NDJSON Feature lines arriving as files →
    * geometry + property pull → H3 cell → per-cell rollup, inside the
    * stream. A text stream needs no schema, so this path is schema-free;
    * the geometry goes straight through the encoding-sniffing st_x/st_y
    * (they accept the GeoJSON subtree as-is). The parse + indexing is the
    * microbatch map side; only the cells-sized aggregate is stateful.
    */
  def geojsonPointsRollupStream(spark: SparkSession, dir: String, res: Int,
                                streaming: Boolean = true): DataFrame = {
    graft.engine.GraftFunctions.register(spark)
    val src = graft.queries.GeoQueries.pointsDf(spark, dir)
      .select(col("point_id"), col("qty"),
        callUDF("st_point", col("longitude"), col("latitude")).as("geom_wkt"))
    // a stream run deletes this directory on return; the batch twin reads
    // it lazily, so there it lives until JVM exit
    val srcDir = Scratch.dir("graft_geojson_stream_src")
    graft.sources.GeoJson.write(src, "geom_wkt", srcDir.toString)

    val lines =
      if (streaming) spark.readStream.text(srcDir.toString)
      else spark.read.text(srcDir.toString)
    val pts = lines
      .where(length(trim(col("value"))) > 0)
      .select(
        get_json_object(col("value"), "$.properties.qty").cast("double").as("qty"),
        get_json_object(col("value"), "$.geometry").as("g"))
      .select(col("qty"),
        callUDF("st_y", col("g")).as("latitude"),
        callUDF("st_x", col("g")).as("longitude"))

    val rolled = pointsCellRollup(spark, pts, res, "latitude", "longitude", "qty")
    if (!streaming) return rolled.orderBy("h3_index")

    StreamRun.toMemory(rolled, srcDir, OutputMode.Complete())._1.orderBy("h3_index")
  }
}
