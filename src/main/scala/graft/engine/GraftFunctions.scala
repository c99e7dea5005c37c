package graft.engine

import org.apache.spark.sql.{Column, GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Geometry
import graft.h3.{H3, H3Index, LatLng}
import graft.geo.{GeoIO, GeodesicExact, H3Geo, Memo}
import graft.operators.SpatialJoin

/** The engine's SQL function surface — the role Sedona's function registry
  * plays in the reference (SURVEY.md §2.5-2.6). One table, [[functions]],
  * binds every name once; [[register]] installs it into a session and
  * [[GraftExtensions]] injects the same table into every session of a
  * cluster. No other code binds a SQL name: an operator's kernel is a
  * Column — a `udf`/`udaf` value, or [[kernel]] over a static method.
  *
  * Each geo/H3 row is a Catalyst `StaticInvoke` of a static bridge below:
  * the call stays inside whole-stage codegen (no ScalaUDF closure, no Row
  * boxing) and plans name the kernel it runs, e.g.
  * `static_invoke(graft.engine.GraftFunctions.indexShapeArray(geom_wkt, 8))`.
  * A NULL argument gives NULL without calling the kernel.
  *
  * Geometry at rest is WKT (or GeoJSON/hex-WKB, sniffed), matching the
  * reference's string round-tripping between every Sedona call
  * (h3_indexer.py:197-204).
  */
object GraftFunctions {

  // ---- plain-Scala kernels (usable without Spark, unit-testable)

  def parseGeom(s: String): Geometry = GeoIO.parseString(s)

  /** U1 index_shape: geometry + res → covering cells.
    * Point → containing cell; LineString → cells along the path between
    * consecutive vertices; Polygon → centroid polyfill; Multi* → union.
    * (h3-pyspark 1.2.6 indexing semantics, SURVEY.md §2.6 U1.)
    */
  def indexGeometry(g: Geometry, res: Int): Array[Long] = {
    import org.locationtech.jts.geom._
    g match {
      case p: Point =>
        Array(H3.latLngToCell(p.getY, p.getX, res))
      case l: LineString =>
        val cs = l.getCoordinates
        val out = scala.collection.mutable.LinkedHashSet.empty[Long]
        var i = 1
        while (i < cs.length) {
          H3.pathCells(LatLng.degrees(cs(i - 1).y, cs(i - 1).x),
            LatLng.degrees(cs(i).y, cs(i).x), res).foreach(out += _)
          i += 1
        }
        out.toArray
      case p: Polygon =>
        val outer = p.getExteriorRing.getCoordinates
          .map(c => LatLng.degrees(c.y, c.x))
        val holes = (0 until p.getNumInteriorRing).map(i =>
          p.getInteriorRingN(i).getCoordinates.map(c => LatLng.degrees(c.y, c.x)))
        H3.polygonToCells(outer.dropRight(1), holes.map(_.dropRight(1)), res)
      case multi =>
        (0 until multi.getNumGeometries)
          .flatMap(i => indexGeometry(multi.getGeometryN(i), res))
          .distinct.toArray
    }
  }

  /** Per-thread LRU of parsed feature geometries keyed by the row's WKT
    * bytes: the (feature, cell) rows repeat each feature's WKT once per
    * covering cell, and a hit decodes nothing. A miss stores a `copy()`.
    */
  private val parsed = new Memo.PerThread[UTF8String, Geometry](48)

  def parseGeomCached(s: UTF8String): Geometry = {
    val hit = parsed.get(s)
    if (hit != null) hit else parsed.put(s.copy(), parseGeom(s.toString))
  }

  def parseGeomCached(s: String): Geometry = parseGeomCached(UTF8String.fromString(s))

  /** ratio against a cell given by raw long index: the hexagon boundary
    * comes from the per-executor memo as a parsed JTS polygon — no hexagon
    * WKT is built or parsed per (feature, cell) pair, and no hex string
    * travels through the rows.
    */
  def ratioAreaCell(g: Geometry, cell: Long): Double = {
    val denom = g.getArea
    if (denom == 0.0) return 0.0
    val info = H3Geo.cellInfoCached(cell)
    // convex cells take the exact planar Sutherland–Hodgman clip (~100×
    // cheaper than the overlay; agreement spec-gated at 1e-9 relative);
    // folded/degenerate cells and exotic geometries fall back to JTS.
    // Past GeoSegIndex.SegmentThreshold the clip consults the feature's
    // segment index first: interior/exterior cells skip the full ring walk
    // (a giant ring × its million cells is otherwise quadratic).
    info.clip match {
      case Some(r) =>
        val idx = graft.geo.GeoSegIndex.cached(g)
        val a = if (idx != null && !idx.isLine) graft.geo.GeoSegIndex.areaIn(r, g, idx)
                else graft.geo.ConvexClip.areaIn(r, g)
        if (a.isNaN) g.intersection(info.poly).getArea / denom else a / denom
      case None => g.intersection(info.poly).getArea / denom
    }
  }

  def ratioLengthCell(g: Geometry, cell: Long): Double = {
    val denom = g.getLength
    if (denom == 0.0) return 0.0
    val info = H3Geo.cellInfoCached(cell)
    info.clip match {
      case Some(r) =>
        // indexed walk above GeoSegIndex.SegmentThreshold — BIT-IDENTICAL
        // to the full walk (excluded segments clip to exact 0.0)
        val idx = graft.geo.GeoSegIndex.cached(g)
        val l = if (idx != null && idx.isLine) graft.geo.GeoSegIndex.lengthIn(r, idx)
                else graft.geo.ConvexClip.lengthIn(r, g)
        if (l.isNaN) g.intersection(info.poly).getLength / denom else l / denom
      case None => g.intersection(info.poly).getLength / denom
    }
  }

  def makeValidWkt(s: String): String =
    if (s == null) null
    else try GeoIO.makeValid(parseGeom(s)).map(GeoIO.toWkt).orNull
    catch {
      // malformed/unparseable encodings are irreparable — drop (and let
      // Validator.quarantine surface them) rather than failing the job on
      // one bad row; at corpus scale malformed rows are a certainty
      case scala.util.control.NonFatal(_) => null
    }

  // ---- Catalyst bridges: the methods the table's StaticInvokes call.
  // They take and return Catalyst physical types (UTF8String, primitives,
  // ArrayData, InternalRow) and never see a NULL argument.

  private def utf(s: String): UTF8String = UTF8String.fromString(s)
  private def longs(a: Array[Long]): ArrayData = UnsafeArrayData.fromPrimitiveArray(a)
  private def geom(s: UTF8String): Geometry = parseGeom(s.toString)
  private def cell(s: UTF8String): Long = H3Index.fromHexString(s.toString)

  def latLngCell(lat: Double, lng: Double, res: Int): UTF8String =
    utf(H3.latLngToCellString(lat, lng, res))
  def parent(c: UTF8String, res: Int): UTF8String = utf(H3.cellToParentString(c.toString, res))
  def parentRes3(c: UTF8String): UTF8String = utf(H3Geo.parentRes3(c.toString))
  def resolution(c: UTF8String): Int = H3Index.resolution(cell(c))

  /** U3: cell boundary as WKT polygon (declared StringType — the reference's
    * BinaryType declaration is a latent bug we do not reproduce,
    * SURVEY.md §2.6 U3).
    */
  def cellToWkt(c: UTF8String): UTF8String = utf(H3Geo.cellToWkt(c.toString))
  def cellAreaKm2(c: UTF8String): Double = H3Geo.cellAreaKm2Cached(cell(c))
  def cellInfo(c: UTF8String): InternalRow = {
    val (wkt, area) = H3Geo.cellInfo(c.toString)
    InternalRow(utf(wkt), area)
  }

  /** U1 as ARRAY<BIGINT> for the built-in `explode`: the array is an
    * UnsafeArrayData of primitive longs, never boxed.
    */
  def indexShapeArray(g: UTF8String, res: Int): ArrayData =
    longs(indexGeometry(parseGeomCached(g), res))

  /** Phase 1 of the split polyfill (PolySplit.tasks): the polygon's coarse
    * ancestor cover when its cell estimate crosses `threshold`, the single
    * sentinel task 0 otherwise. The threshold is an argument (baked at plan
    * time by the Indexer) rather than a task-side read of process state, so
    * a scoped override cannot race a concurrently-built plan.
    */
  def polyfillTasksArray(g: UTF8String, res: Int, threshold: Double): ArrayData =
    longs(PolySplit.tasks(parseGeomCached(g), res, threshold))

  /** Phase 3 of the split polyfill (PolySplit.cellsUnder): the task's
    * centroid-inside descendants; the sentinel task runs the whole-geometry
    * BFS unchanged.
    */
  def cellsUnderArray(g: UTF8String, task: Long, res: Int): ArrayData =
    longs(PolySplit.cellsUnder(parseGeomCached(g), task, res))

  def polyfillEstimate(g: UTF8String, res: Int): Double =
    PolySplit.estimateCells(parseGeomCached(g), res)

  /** The PCT_AREA / PCT_LENGTH ratios against the memoized cell polygon. */
  def ratioAreaCell(g: UTF8String, c: Long): Double = ratioAreaCell(parseGeomCached(g), c)
  def ratioLengthCell(g: UTF8String, c: Long): Double = ratioLengthCell(parseGeomCached(g), c)

  /** Planar ratio area(g ∩ hex) / area(g) — the PCT_AREA ratio
    * (h3_indexer.py:257-263); [[ratioLength]] is PCT_LENGTH
    * (h3_indexer.py:193-199).
    */
  def ratioArea(g: UTF8String, hex: UTF8String): Double = {
    val a = parseGeomCached(g)
    val denom = a.getArea
    if (denom == 0.0) 0.0 else a.intersection(geom(hex)).getArea / denom
  }

  def ratioLength(g: UTF8String, hex: UTF8String): Double = {
    val a = geom(g)
    val denom = a.getLength
    if (denom == 0.0) 0.0 else a.intersection(geom(hex)).getLength / denom
  }

  def areaSpheroidKm2(g: UTF8String): Double = GeodesicExact.areaSqMeters(geom(g)) / 1e6
  def lengthSpheroidKm(g: UTF8String): Double = GeodesicExact.lengthMeters(geom(g)) / 1000.0
  def asText(g: UTF8String): UTF8String = utf(GeoIO.toWkt(geom(g)))
  def asGeoJson(g: UTF8String): UTF8String = utf(GeoIO.toGeoJson(geom(g)))
  def point(lon: Double, lat: Double): UTF8String = utf(GeoIO.toWkt(GeoIO.point(lon, lat)))
  def x(g: UTF8String): Double = geom(g).getCoordinate.x
  def y(g: UTF8String): Double = geom(g).getCoordinate.y
  def isValid(g: UTF8String): Boolean = GeoIO.isValid(geom(g))
  /** Null on malformed or irreparable input. */
  def makeValid(g: UTF8String): UTF8String = utf(makeValidWkt(g.toString))
  def area(g: UTF8String): Double = geom(g).getArea
  def length(g: UTF8String): Double = geom(g).getLength
  def intersection(a: UTF8String, b: UTF8String): UTF8String =
    utf(GeoIO.toWkt(geom(a).intersection(geom(b))))

  def gridDisk(c: Long, k: Int): ArrayData = longs(H3.gridDisk(c, k))
  def gridDistance(a: Long, b: Long): Int = H3.gridDistance(a, b)
  def isValidCell(c: Long): Boolean = H3Index.isValidCell(c)
  def isPentagon(c: Long): Boolean = H3Index.isPentagon(c)
  def children(c: Long, res: Int): ArrayData = longs(H3.cellToChildren(c, res))
  def compact(cells: ArrayData): ArrayData = longs(H3.compactCells(cells.toLongArray))
  def uncompact(cells: ArrayData, res: Int): ArrayData =
    longs(H3.uncompactCells(cells.toLongArray, res))

  /** Coverage set → dissolved boundary geometry (the h3 API's
    * cellsToMultiPolygon): union of the cell polygons via JTS overlay,
    * emitted as WKT (POLYGON or MULTIPOLYGON as the union dictates).
    */
  def cellsToMultiPolygon(cells: ArrayData): UTF8String =
    if (cells.numElements() == 0) utf("MULTIPOLYGON EMPTY")
    else {
      val polys = cells.toLongArray.map(c => GeoIO.fromWkt(H3Geo.cellToWkt(c)))
      utf(GeoIO.toWkt(org.locationtech.jts.operation.union.UnaryUnionOp
        .union(java.util.Arrays.asList(polys: _*))))
    }

  def coverCells(wkt: UTF8String, res: Int): ArrayData =
    longs(SpatialJoin.coverCells(wkt.toString, res))

  // ------------------------------------------------------ the function table

  private type Builder = Seq[Expression] => Expression

  // explicit input coercion at build time (AbstractDataType/ExpectsInputTypes
  // is not public API in Spark 4, so the builders cast instead)
  private def asD(e: Expression): Expression = Cast(e, DoubleType)
  private def asI(e: Expression): Expression = Cast(e, IntegerType)
  private def asS(e: Expression): Expression = Cast(e, StringType)
  private def asL(e: Expression): Expression = Cast(e, LongType)
  private def asAL(e: Expression): Expression = Cast(e, ArrayType(LongType))
  private def asAD(e: Expression): Expression = Cast(e, ArrayType(DoubleType))
  private def asAF(e: Expression): Expression = Cast(e, ArrayType(FloatType))

  private val longCells = ArrayType(LongType, containsNull = false)

  /** `method` of `obj` over the cast arguments. `orNull` marks a result
    * type that is nullable even on non-null input (StaticInvoke's
    * `returnNullable`).
    */
  private[graft] def invoke(obj: AnyRef, method: String, dt: DataType, orNull: Boolean,
                     casts: Seq[Expression => Expression]): Builder = { es =>
    require(es.length == casts.length,
      s"$method takes ${casts.length} argument(s), got ${es.length}")
    StaticInvoke(obj.getClass, dt, method, casts.zip(es).map { case (c, e) => c(e) },
      returnNullable = orNull)
  }

  /** [[invoke]] over Columns taken as they are (no casts): an operator's
    * kernel call, NULL only on a NULL argument. */
  private[graft] def kernel(obj: AnyRef, method: String, dt: DataType, args: Column*): Column = {
    val es = args.map(GraftBridge.expression)
    val asIs = es.map(_ => identity[Expression] _)
    GraftBridge.column(invoke(obj, method, dt, orNull = false, asIs)(es))
  }

  /** A plan-time constant (centroid matrix, codebook, bitset) as a kernel
    * argument: it rides in the serialized plan, as a field of a
    * hand-written expression would. */
  private[graft] def const[T <: AnyRef](v: T)(implicit ct: scala.reflect.ClassTag[T]): Column =
    GraftBridge.column(Literal(v, ObjectType(ct.runtimeClass)))

  /** NULL only on a NULL argument. */
  private def exact(dt: DataType, method: String, casts: (Expression => Expression)*) =
    invoke(this, method, dt, orNull = false, casts)

  /** Nullable result type: st_makevalid returns NULL on irreparable input;
    * the other rows keep the always-nullable type they had as Scala UDFs,
    * so output schemas do not move.
    */
  private def nullable(dt: DataType, method: String, casts: (Expression => Expression)*) =
    invoke(this, method, dt, orNull = true, casts)

  /** Every SQL name the engine registers, bound once. The names that the
    * indexer, resolver and spatial join call per (feature, cell) row are
    * `exact`: their plans keep non-nullable ratio/area columns.
    */
  private[graft] val functions: Seq[(String, Builder)] = Seq(
    // H3 cells as hex text
    "h3_latlng_cell" -> exact(StringType, "latLngCell", asD, asD, asI),
    "h3_parent" -> exact(StringType, "parent", asS, asI),
    "h3_resolution" -> exact(IntegerType, "resolution", asS),
    "h3_parent_res3" -> nullable(StringType, "parentRes3", asS),
    "h3_to_wkt" -> nullable(StringType, "cellToWkt", asS),
    "h3_cell_area_km2" -> nullable(DoubleType, "cellAreaKm2", asS),
    "h3_cell_info" -> nullable(StructType(Seq(StructField("_1", StringType),
      StructField("_2", DoubleType, nullable = false))), "cellInfo", asS),
    // the indexer's LONG-cell hot path
    "h3_index_shape" -> exact(longCells, "indexShapeArray", asS, asI),
    // the 2-arg form bakes the CURRENT (plan-time, possibly scope-overridden)
    // threshold in as a literal — the expression never reads process state
    "h3_polyfill_tasks" -> { es =>
      exact(longCells, "polyfillTasksArray", asS, asI, asD)(
        if (es.length == 2) es :+ Literal(PolySplit.splitThreshold) else es)
    },
    "h3_cells_under" -> exact(longCells, "cellsUnderArray", asS, asL, asI),
    "h3_polyfill_est" -> exact(DoubleType, "polyfillEstimate", asS, asI),
    "st_ratio_area_cell" -> exact(DoubleType, "ratioAreaCell", asS, asL),
    "st_ratio_length_cell" -> exact(DoubleType, "ratioLengthCell", asS, asL),
    "h3_cell_area_cached" ->
      invoke(H3Geo, "cellAreaKm2Cached", DoubleType, orNull = false, Seq(asL)),
    // case classes, not StaticInvoke: CollapseH3Chains pattern-matches
    // them and Cols.hexCells builds H3HexExpr
    "h3_parent_long" -> (es => Expressions.H3ParentLongExpr(asL(es(0)), asI(es(1)))),
    "h3_hex" -> (es => Expressions.H3HexExpr(asL(es.head))),
    "h3_unhex" -> (es => Expressions.H3UnhexExpr(asS(es.head))),
    // hierarchy/traversal surface (beyond the reference's own usage; the
    // standard H3 API a user of an H3 engine expects)
    "h3_grid_disk" -> nullable(longCells, "gridDisk", asL, asI),
    "h3_grid_distance" -> nullable(IntegerType, "gridDistance", asL, asL),
    "h3_is_valid" -> nullable(BooleanType, "isValidCell", asL),
    "h3_is_pentagon" -> nullable(BooleanType, "isPentagon", asL),
    "h3_children" -> nullable(longCells, "children", asL, asI),
    "h3_compact" -> nullable(longCells, "compact", asAL),
    "h3_uncompact" -> nullable(longCells, "uncompact", asAL, asI),
    "h3_cells_to_multipolygon" -> nullable(StringType, "cellsToMultiPolygon", asAL),
    // geometry (WKT, GeoJSON or hex-WKB in; WKT out)
    "st_point" -> nullable(StringType, "point", asD, asD),
    "st_x" -> nullable(DoubleType, "x", asS),
    "st_y" -> nullable(DoubleType, "y", asS),
    "st_astext" -> nullable(StringType, "asText", asS),
    "st_asgeojson" -> nullable(StringType, "asGeoJson", asS),
    "st_makevalid" -> nullable(StringType, "makeValid", asS),
    "st_isvalid" -> nullable(BooleanType, "isValid", asS),
    "st_area" -> nullable(DoubleType, "area", asS),
    "st_length" -> nullable(DoubleType, "length", asS),
    "st_area_spheroid_km2" -> nullable(DoubleType, "areaSpheroidKm2", asS),
    "st_length_spheroid_km" -> nullable(DoubleType, "lengthSpheroidKm", asS),
    "st_intersection" -> nullable(StringType, "intersection", asS, asS),
    "st_ratio_area" -> nullable(DoubleType, "ratioArea", asS, asS),
    "st_ratio_length" -> nullable(DoubleType, "ratioLength", asS, asS),
    // spatial join: superset cover, then the exact filter over a
    // UTF8String-keyed prepared-geometry LRU
    "st_cover_cells" -> nullable(longCells, "coverCells", asS, asI),
    "st_contains_point" ->
      invoke(SpatialJoin, "containsPointU", BooleanType, orNull = false, Seq(asS, asD, asD)),
    // vector kernels (vec_dot/vec_cosine: ragged pair → NULL, see VecDotExpr)
    "l2_normalize_native" -> invoke(VecOps, "l2normalized",
      ArrayType(DoubleType, containsNull = false), orNull = false, Seq(asAD)),
    "vec_dot_native" -> (es => Expressions.VecDotExpr(asAD(es(0)), asAD(es(1)))),
    "vec_cosine_native" -> (es => Expressions.VecCosineExpr(asAD(es(0)), asAD(es(1)))),
    // cast to ARRAY<FLOAT>: an ARRAY<DOUBLE> would be read as 4-byte halves
    "vec_cosine_f_native" ->
      invoke(VecOps, "cosineFloat", DoubleType, orNull = false, Seq(asAF, asAF))
  )

  /** Register the table for SQL/expr use (Sedona-registry parity), plus the
    * H3 chain-collapsing optimizer rule. It checks before it installs: only
    * names missing from the session's registry are added, and the rule only
    * when neither an earlier call nor [[GraftExtensions]] put it there, so
    * calling it per query build, or on an extension-built session, changes
    * nothing.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    // post-hoc sessions can't inject optimizer rules; extraOptimizations
    // runs at the end of optimization, after SimplifyCasts
    val rule = Expressions.CollapseH3Chains
    if (!spark.experimental.extraOptimizations.contains(rule) &&
        !GraftBridge.injectedOptimizerRules(spark).contains(rule))
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ rule
  }

  def inject(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => Expressions.CollapseH3Chains)
    functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName.stripSuffix("$"), name), builder))
    }
  }
}

/** `spark.sql.extensions=graft.engine.GraftExtensions` injects the whole
  * [[GraftFunctions]] table into every session of the cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftFunctions.inject(ext)
}
