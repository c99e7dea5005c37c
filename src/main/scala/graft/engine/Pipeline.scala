package graft.engine

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model._
import graft.model.{GeometryType => GT}

/** Engine-generated column names (reference constants.py:3-20). */
object Cols {
  val H3Index = "h3_index"
  val H3Resolution = "h3_resolution"
  val H3R3Parent = "h3_r3_parent"
  val H3AreaKm2 = "h3_area_km2"
  val Ratio = "ratio"
  val H3Geom = "h3_geom"
  val GeomWkt = "geom_wkt"
  val TotalCount = "total_count"
  val TotalLengthKm = "total_length_km"
  val TotalAreaKm2 = "total_area_km2"

  /** The one place engine cells become text. Cells travel as int64 from
    * polyfill to sink; this rewrites LONG `h3_index` / `h3_r3_parent` to
    * hex STRING in place (column order kept). Absent or already-STRING
    * columns pass through, so it is idempotent. Built on the native
    * expression directly: it needs no registered function.
    */
  def hexCells(df: DataFrame): DataFrame = {
    val cells = Seq(H3Index, H3R3Parent).filter(c =>
      df.schema.exists(f => f.name == c && f.dataType == LongType))
    if (cells.isEmpty) df
    else df.withColumns(cells.map(c =>
      c -> GraftBridge.column(Expressions.H3HexExpr(GraftBridge.expression(col(c))))).toMap)
  }
}

final case class ValidationError(message: String) extends RuntimeException(message)

/** Fan a narrow CPU-bound pipeline out to all cores without touching
  * `df.rdd`: under AQE, RDD conversion eagerly materializes every shuffle
  * stage below it (measured: ~3 s of extra jobs + planning per h3_index_*
  * query at sf0.1). The scan width is instead estimated from leaf-file
  * metadata — the same arithmetic FilePartition planning uses — which is a
  * pure driver-side computation.
  */
object Fanout {

  /** True if the plan already contains an explicit repartition to >= n. */
  private def alreadyFanned(df: DataFrame, n: Int): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
          if scala.util.Try(r.numPartitions).toOption.exists(_ >= n) => true
    }.nonEmpty

  /** Non-file sources: width from the logical plan's leaves, still without
    * touching `df.rdd`. LocalRelation (in-memory data) and OneRowRelation
    * parallelize to a handful of tasks regardless of row count; Range
    * carries an explicit slice count. Only a leaf we can't classify (an
    * exotic V2 source) is assumed wide.
    */
  private def estimatedNonFilePartitions(df: DataFrame): Long = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val widths = df.queryExecution.analyzed.collect {
      case _: LocalRelation => 1L
      case _: OneRowRelation => 1L
      case r: Range => r.numSlices.map(_.toLong).getOrElse(1L)
    }
    if (widths.nonEmpty) widths.max else Long.MaxValue
  }

  /** ceil(fileBytes / maxPartitionBytes) summed over the scan's files. */
  private def estimatedScanPartitions(spark: SparkSession, df: DataFrame): Long = {
    val files = df.inputFiles
    if (files.isEmpty) return estimatedNonFilePartitions(df)
    val conf = spark.sessionState.newHadoopConf()
    val maxBytes = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    files.iterator.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val len = scala.util.Try(p.getFileSystem(conf).getFileStatus(p).getLen).getOrElse(0L)
      math.max(1L, (len + maxBytes - 1) / maxBytes)
    }.sum
  }

  /** Repartition to defaultParallelism iff the scan is narrower than the
    * core count (a no-op at cluster scale, where splits >> cores).
    */
  def ensure(spark: SparkSession, df: DataFrame): DataFrame = {
    val parallelism = spark.sparkContext.defaultParallelism
    if (alreadyFanned(df, parallelism)) df
    else if (estimatedScanPartitions(spark, df) < parallelism) df.repartition(parallelism)
    else df
  }

  /** Keyed variant: fan out by HASH on `keys` so a downstream
    * window/aggregate on the same keys reuses the exchange instead of
    * planning its own (round-robin fan-out would leave that second
    * shuffle in the plan). Same no-op condition as [[ensure]].
    */
  def ensureByKey(spark: SparkSession, df: DataFrame,
                  keys: org.apache.spark.sql.Column*): DataFrame = {
    // Fan to the SHUFFLE-partition count, not defaultParallelism: the
    // downstream window/aggregate on the same keys plans its exchange with
    // spark.sql.shuffle.partitions, so the exchange is reusable only when
    // the keyed fanout lands on exactly that partitioning. (Sessions.local
    // sets the two equal, but a cluster config routinely doesn't.)
    val target = spark.sessionState.conf.numShufflePartitions
    if (alreadyFanned(df, target)) df
    else if (estimatedScanPartitions(spark, df) < target)
      df.repartition(target, keys: _*)
    else df
  }
}

/** Input validation (reference validator.py:15-115): PK uniqueness, numeric
  * attribute types, canonical geometry materialization, repair + drop of
  * invalid/null geometries.
  */
object Validator {

  private val NumericTypes: Set[DataType] =
    Set(IntegerType, LongType, FloatType, DoubleType, ShortType, ByteType)

  def validate(spark: SparkSession, in: VectorInput, df: DataFrame): DataFrame = {
    // PK uniqueness (validator.py:15-36) — one aggregate pass, not two
    // scans. The reference counts `select(uid).distinct()`, where NULL is
    // one key; count_distinct skips NULL, so the NULLs are counted apart
    // and add one key when present. A blocking job that gates every
    // pipeline build, so the verdict is memoized per input version; a
    // duplicate-id input keeps throwing.
    SessionMemo.getOrCompute(df, s"pk:${in.uniqueId}") {
      val id = col(in.uniqueId)
      val Array(nRows: Long, nNonNull: Long, nDistinct: Long) = df
        .agg(count(lit(1)), count(id), count_distinct(id)).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val nNull = nRows - nNonNull
      val nKeys = nDistinct + (if (nNull > 0) 1 else 0)
      if (nRows != nKeys) {
        val nulls = if (nNull > 1) s" ($nNull NULL ids count as one key)" else ""
        throw ValidationError(
          s"input ${in.name}: unique_id '${in.uniqueId}' has $nKeys distinct over $nRows rows$nulls")
      }
      true
    }

    // numeric attribute check against the schema (validator.py:39-61)
    in.inputColumns.foreach { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        throw ValidationError(s"input ${in.name}: missing input column '$c'"))
      val ok = f.dataType match {
        case _: DecimalType => true
        case t => NumericTypes.contains(t)
      }
      if (!ok) throw ValidationError(
        s"input ${in.name}: column '$c' is ${f.dataType.simpleString}, not numeric")
    }

    // Fan the rows out BEFORE the per-row geometry chain: a small input
    // (one parquet file) scans as one partition, and the narrow
    // parse→repair pipeline below would otherwise run serially inside that
    // single task (measured: 4.7 s of the 6.7 s h3_index_lines wall at
    // sf0.1 was this one task). At cluster scale inputs have splits >>
    // cores and this is a no-op. HASH fan-out on the (validated-unique)
    // id, not round-robin: a keyless repartition pays a local sort of its
    // input inside that same single scan task (sortBeforeRepartition,
    // guide §2.5), pure overhead the keyed exchange skips.
    val fanned = Fanout.ensureByKey(spark, df, col(in.uniqueId))

    // canonical geometry column: geom_wkt (vector.py:105-126). The reference
    // also materializes geometry_geojson for the polyfill UDF; our U1 sniffs
    // encodings itself, so one canonical column suffices.
    // st_makevalid is the fused sniff-parse → repair → WKT step; null
    // source or irreparable geometry → null (geospatial.py:140-166).
    val (geomExpr, _) = repairedGeom(in, fanned)

    // Drop the null/irreparable rows via explode(array_compact(array(…)))
    // rather than isNotNull filters: PushDownPredicates would substitute a
    // filter's condition below the fan-out exchange and re-run the whole
    // parse→repair chain serially inside the single scan task (measured:
    // 2 × 3.4 s single-task stages on h3_index_lines at sf0.1). A Generate
    // cannot be pushed through an Exchange, so the chain runs exactly once,
    // after the fan-out, and an empty array drops the row exactly like the
    // reference's dropna (geospatial.py:150-166).
    fanned.withColumn(Cols.GeomWkt, explode(array_compact(array(geomExpr))))
  }

  /** (repaired-WKT-or-null expression, source-is-null predicate) for the
    * input's geometry source — shared by validate() and quarantine().
    */
  private def repairedGeom(in: VectorInput, df: DataFrame)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =
    (in.geometryColumn, in.latColumn, in.lonColumn) match {
      case (Some(g), _, _) =>
        val fixed = df.schema(g).dataType match {
          case BinaryType => callUDF("st_makevalid", hex(col(g)))
          case _ => callUDF("st_makevalid", col(g).cast("string"))
        }
        (fixed, col(g).isNull)
      case (None, Some(la), Some(lo)) =>
        (callUDF("st_makevalid",
          callUDF("st_point", col(lo).cast("double"), col(la).cast("double"))),
          col(la).isNull || col(lo).isNull)
      case _ => throw ValidationError(s"input ${in.name}: no geometry source")
    }

  /** The rows validate() silently drops, with WHY — route them to a
    * quarantine sink instead of losing them (the reference only logs a
    * dropped COUNT, geospatial.py:158-164). Map-only over the input, so at
    * scale this is one extra pass that reads the same splits; a production
    * job writes it next to the main output and alerts on its volume.
    */
  def quarantine(spark: SparkSession, in: VectorInput, df: DataFrame): DataFrame = {
    val fanned = Fanout.ensure(spark, df)
    val (fixed, srcNull) = repairedGeom(in, fanned)
    fanned.withColumn("__fixed", fixed)
      .where(col("__fixed").isNull)
      .withColumn("reject_reason",
        when(srcNull, lit("null_geometry")).otherwise(lit("irreparable_geometry")))
      .drop("__fixed")
  }
}

/** The per-geometry-type indexing dataflow (reference h3_indexer.py:31-270,
  * SURVEY.md §2.7), Spark-first:
  *
  *   polyfill (U1) → explode → distinct-cell dimension (boundary + area
  *   computed once per cell, the reference's one real algorithmic
  *   optimization — SURVEY.md §4) → join back → ratio/total columns →
  *   epilogue (parent, resolution).
  *
  * Differences from the reference, chosen for scale:
  *   - unique_id + geom_wkt are carried through the explode instead of
  *     re-joined afterwards (J2 was an artifact; identical semantics since
  *     unique_id is validated unique).
  *   - h3_area_km2 is computed on the distinct-cell dimension (the reference
  *     recomputes it per (feature,cell) row) — same values, far fewer calls.
  */
object Indexer {

  /** Output h3_index / h3_r3_parent are LONG cells with no sink layout;
    * they become the reference's hex text only at the output projection
    * ([[Cols.hexCells]], applied by [[GraftJob.write]] and by queries that
    * return cells), and only [[GraftJob.write]] clusters rows by
    * h3_r3_parent.
    */
  def index(spark: SparkSession, in: VectorInput, validated: DataFrame,
            res: Int): DataFrame = {
    // Dispatch on METHOD, not geometry type. The reference guards the ratio
    // stage on method (h3_indexer.py:129/194/257: `if input.method == ...`);
    // for the declared-but-unimplemented PASS_THROUGH/CENTROID the ratio
    // column is never added and the final `select(*subset_columns)`
    // (h3_indexer.py:76) then fails on the missing 'ratio'. We surface the
    // same outcome as a typed error instead of silently indexing a
    // PASS_THROUGH line as PCT_LENGTH.
    in.method match {
      case Method.PassThrough | Method.Centroid =>
        throw ValidationError(
          s"input ${in.name}: method ${in.method} is declared but has no indexer " +
          "implementation (reference h3_indexer.py guards ratio on method and the " +
          "final projection requires it)")
      case _ => ()
    }
    val attrs = in.inputColumns.map(col)
    val selected = validated.select(
      (col(in.uniqueId) +: col(Cols.GeomWkt) +: attrs): _*)
    // The polyfill/ratio stages are CPU-bound per row, but a small input
    // (one parquet file) scans as one partition and AQE only rebalances
    // after a shuffle — so fan the rows out first when the scan has fewer
    // partitions than cores. At cluster scale inputs have splits >> cores
    // and this is a no-op.
    val base = Fanout.ensure(spark, selected)

    // Per-feature totals are geometry-only: compute them BEFORE the explode
    // (once per feature, not once per (feature,cell) pair — the reference
    // recomputes per pair, h3_indexer.py:202-204/266-268; values identical).
    val withTotal = in.geometryType match {
      case GT.Point => base.withColumn(Cols.TotalCount, lit(1))
      case GT.Line => base.withColumn(Cols.TotalLengthKm,
        callUDF("st_length_spheroid_km", col(Cols.GeomWkt)))
      case GT.Polygon => base.withColumn(Cols.TotalAreaKm2,
        callUDF("st_area_spheroid_km2", col(Cols.GeomWkt)))
    }

    // Cells travel as raw int64 from here to the sink: the polyfill
    // generator emits ARRAY<LONG>, ratio/area/parent consume the long, and
    // hex text exists only in Cols.hexCells' output projection. Every cell
    // function on this path is a codegen call (GraftFunctions.functions) —
    // the explode + ratio + epilogue stay inside one whole-stage-codegen
    // span with no ScalaUDF closure per row.
    //
    // Polygon inputs carry one extra hazard at fleet scale: a single
    // country-sized polygon polyfills MILLIONS of cells inside ONE
    // generator row — unsplittable task skew no repartition upstream can
    // fix. When a memoized probe finds any polygon estimating past
    // PolySplit.splitThreshold, the polyfill runs as a two-phase split
    // instead: explode the coarse ancestor cover (small polygons ride a
    // sentinel task), hash-shuffle the (feature, task) units to full
    // width, then enumerate each task's bounded descendant block.
    // Set-identical output (PolySplitSpec), engaged only above threshold —
    // every test-SF plan is byte-identical to the single-generator form.
    val exploded =
      if (in.geometryType == GT.Polygon &&
          PolySplit.shouldSplit(selected.select(col(Cols.GeomWkt)), Cols.GeomWkt, res)) {
        withTotal
          .withColumn("h3_task",
            // threshold baked as a literal at plan time: executor tasks
            // never read the (scope-overridable) global
            explode(expr(s"h3_polyfill_tasks(${Cols.GeomWkt}, $res, " +
              s"${PolySplit.splitThreshold})")))
          .repartition(spark.sparkContext.defaultParallelism,
            col(in.uniqueId), col("h3_task"))
          .withColumn(Cols.H3Index,
            explode(expr(s"h3_cells_under(${Cols.GeomWkt}, h3_task, $res)")))
          .drop("h3_task")
      } else {
        withTotal.withColumn(Cols.H3Index,
          explode(expr(s"h3_index_shape(${Cols.GeomWkt}, $res)")))
      }

    // Hexagon boundary + area come from a bounded per-executor memo keyed by
    // the long cell (H3Geo.cellInfoCached, stores the parsed JTS polygon)
    // instead of the reference's distinct+join cell dimension
    // (h3_indexer.py:116-124): same compute-once-per-cell effect, but zero
    // extra shuffles and no hexagon WKT travelling through the rows. (The
    // reference needed the dim join because its per-row compute ran in
    // isolated Python workers.) Rows are NOT co-located by cell first:
    // PLAN_r12 measured that exchange as strictly worse at any scale (it
    // moves the full geometry WKT per pair).
    val withRatio = in.method match {
      case Method.Within =>
        exploded.withColumn(Cols.Ratio, lit(1.0))
      case Method.PctLength =>
        exploded.withColumn(Cols.Ratio,
          expr(s"st_ratio_length_cell(${Cols.GeomWkt}, ${Cols.H3Index})"))
      case Method.PctArea =>
        exploded.withColumn(Cols.Ratio,
          expr(s"st_ratio_area_cell(${Cols.GeomWkt}, ${Cols.H3Index})"))
      case other =>
        throw ValidationError(s"method $other has no ratio implementation") // unreachable
    }

    val totalCol = in.geometryType match {
      case GT.Point => Cols.TotalCount
      case GT.Line => Cols.TotalLengthKm
      case GT.Polygon => Cols.TotalAreaKm2
    }

    // The projection below evaluates its columns in output order, area
    // before ratio. Ratio-path cells build the full CellInfo for the clip,
    // so their area is read from that entry (one boundary and area per
    // cell); an area-only lookup first would compute the area twice.
    // WITHIN pairs never clip and use the area-only cache.
    val area = in.method match {
      case Method.Within => expr(s"h3_cell_area_cached(${Cols.H3Index})")
      case _ => GraftFunctions.kernel(graft.geo.H3Geo, "cellInfoAreaKm2", DoubleType,
        col(Cols.H3Index))
    }

    // epilogue (h3_indexer.py:31-81)
    withRatio
      .withColumn(Cols.H3AreaKm2, area)
      .withColumn(Cols.H3R3Parent, expr(s"h3_parent_long(${Cols.H3Index}, 3)"))
      .withColumn(Cols.H3Resolution, lit(res))
      .select((Seq(
        col(Cols.H3Index),
        col(Cols.H3Resolution),
        col(Cols.H3R3Parent),
        col(Cols.H3AreaKm2), col(in.uniqueId)) ++ Seq(col(Cols.Ratio), col(totalCol)) ++
        attrs): _*)
  }
}

/** The resolver (reference h3_resolver.py:22-160): value×ratio, group-sum
  * per hexagon per input, full-outer fold across inputs, epilogue columns.
  */
object Resolver {

  /** Per-input weighted aggregation: sum(value×ratio) per h3_index. */
  def resolveInput(indexed: DataFrame, inputColumns: Seq[String]): DataFrame = {
    val weighted = inputColumns.foldLeft(indexed) { (df, c) =>
      df.withColumn(c, col(c) * col(Cols.Ratio)) // A4 (h3_resolver.py:125-127)
    }
    weighted.groupBy(Cols.H3Index)
      .agg(inputColumns.map(c => sum(col(c)).as(s"sum_$c")).head,
        inputColumns.map(c => sum(col(c)).as(s"sum_$c")).tail: _*) // A1
  }

  /** Re-key a per-cell aggregated frame (LONG h3_index at a finer
    * resolution) to `targetRes` by ancestor rollup: sums re-sum exactly
    * under the parent key, so inputs indexed at different resolutions can
    * meet in one fold at the coarsest. One extra shuffle on the (smaller)
    * parent key space.
    */
  def rollupToRes(perCell: DataFrame, targetRes: Int): DataFrame = {
    require(perCell.schema(Cols.H3Index).dataType == LongType,
      "rollupToRes expects the LONG h3_index path")
    val sums = perCell.columns.filter(_.startsWith("sum_"))
    require(sums.nonEmpty,
      s"rollupToRes needs aggregated sum_ columns, got ${perCell.columns.mkString(", ")}")
    perCell
      .withColumn(Cols.H3Index, expr(s"h3_parent_long(${Cols.H3Index}, $targetRes)"))
      .groupBy(Cols.H3Index)
      .agg(sums.map(c => sum(col(c)).as(c)).head, sums.map(c => sum(col(c)).as(c)).tail: _*)
  }

  /** A per-cell frame keyed by hex STRING (a resolved table fed back
    * through mergeDelta, or a written output read back) re-keyed to the
    * engine's LONG cell; LONG frames pass through. Folding mixed key types
    * would let Spark coerce the join keys (hex strings cast to numeric
    * become null) and silently mismatch every row.
    */
  private def longCells(df: DataFrame): DataFrame =
    df.schema(Cols.H3Index).dataType match {
      case LongType => df
      case StringType => df.withColumn(Cols.H3Index, expr(s"h3_unhex(${Cols.H3Index})"))
      case other => throw ValidationError(
        s"h3_index must be LONG or hex STRING, got ${other.simpleString}")
    }

  /** Fold per-input resolved tables on h3_index (J4, full outer, computed
    * as a union fold), then re-derive the epilogue columns
    * (h3_resolver.py:71-96: parent/area/res are recomputed after the
    * aggregation, in the same order).
    *
    * Accepts h3_index as LONG (the indexer's output) or hex STRING; every
    * STRING frame is unhexed on entry, so the group-by, fold and epilogue
    * run on int64 cells. The output keeps LONG h3_index / h3_r3_parent and
    * no sink layout, like [[Indexer.index]]'s.
    */
  def resolve(spark: SparkSession, perInput: Seq[DataFrame], res: Int): DataFrame = {
    val frames = perInput.map(longCells)
    // Fold: the per-input frames are post-aggregation (one row per cell),
    // so the N-way full-outer join on h3_index is exactly a union + one
    // per-cell aggregate: keep each frame's h3_index and own sum_*, pad
    // with nulls for the other inputs' columns, union, groupBy(h3_index),
    // max(col). Each column has at most ONE non-null value per cell, so
    // max() is pure selection (values pass through bit-identical, nulls
    // stay null exactly like the outer join). ONE exchange + hash
    // aggregate at any N, and the per-input subtrees materialize
    // concurrently as independent AQE stages. Columns other than h3_index
    // and sum_* are not carried (the output projection drops them anyway).
    // Distinct cells per frame and non-null cells are ASSUMED
    // (resolveInput guarantees both: its groupBy(h3_index) emits one row
    // per non-null cell), not detected: a duplicate cell would be
    // max-merged. A single frame passes through with no aggregate.
    val sumCols = frames.map(_.columns.filter(_.startsWith("sum_")).toSeq)
    val allSums = sumCols.flatten
    val clashes = allSums.diff(allSums.distinct).distinct
    if (clashes.nonEmpty) throw ValidationError(
      s"resolver inputs share sum_ columns: ${clashes.mkString(", ")}")
    if (frames.size > 1 && allSums.isEmpty) throw ValidationError(
      "resolver inputs carry no sum_ columns")
    val folded =
      if (frames.size == 1) frames.head
      else {
        val sumType: Map[String, DataType] =
          frames.zip(sumCols).flatMap { case (df, own) =>
            own.map(c => c -> df.schema(c).dataType)
          }.toMap
        val padded = frames.zip(sumCols).map { case (df, own) =>
          df.select(col(Cols.H3Index) +: allSums.map { c =>
            if (own.contains(c)) col(c)
            else lit(null).cast(sumType(c)).as(c)
          }: _*)
        }
        padded.reduce(_.unionByName(_))
          .groupBy(Cols.H3Index)
          .agg(max(col(allSums.head)).as(allSums.head),
            allSums.tail.map(c => max(col(c)).as(c)): _*)
      }
    folded
      .withColumn(Cols.H3Resolution, lit(res))
      .withColumn(Cols.H3R3Parent, expr(s"h3_parent_long(${Cols.H3Index}, 3)"))
      .withColumn(Cols.H3AreaKm2, expr(s"h3_cell_area_cached(${Cols.H3Index})"))
      .select((Seq(col(Cols.H3Index), col(Cols.H3Resolution),
        col(Cols.H3R3Parent), col(Cols.H3AreaKm2)) ++
        folded.columns.filter(_.startsWith("sum_")).map(col)): _*)
  }

  /** Single-input resolve (main.py:78-85, h3_resolver.py:101-160): the
    * general [[resolve]] over one [[resolveInput]].
    */
  def resolveSingle(spark: SparkSession, indexed: DataFrame,
                    inputColumns: Seq[String], res: Int): DataFrame =
    resolve(spark, Seq(resolveInput(indexed, inputColumns)), res)

  /** Incremental resolve: fold a newly resolved batch into an existing
    * resolved table of the SAME sum_ schema without recomputing history —
    * union + per-cell re-sum (summation is associative), epilogue columns
    * recomputed by `resolve`. This is the production shape for a periodic
    * feed at 100 TB: the merge cost scales with |delta| + |touched cells|,
    * not with the accumulated corpus. Equivalent (up to floating-point
    * summation order) to re-resolving everything from scratch —
    * ResolverSpec asserts agreement to 1e-9 relative.
    */
  def mergeDelta(spark: SparkSession, existing: DataFrame, delta: DataFrame,
                 res: Int): DataFrame = {
    val sums = existing.columns.filter(_.startsWith("sum_")).toSeq
    val deltaSums = delta.columns.filter(_.startsWith("sum_")).toSeq
    require(sums.nonEmpty && deltaSums == sums,
      s"mergeDelta needs matching sum_ schemas, got [$sums] vs [$deltaSums]")
    val cols = (Cols.H3Index +: sums).map(col)
    val merged = longCells(existing.select(cols: _*))
      .unionByName(longCells(delta.select(cols: _*)))
      .groupBy(Cols.H3Index)
      .agg(sums.map(c => sum(col(c)).as(c)).head,
        sums.map(c => sum(col(c)).as(c)).tail: _*)
    resolve(spark, Seq(merged), res)
  }
}

/** Whole-job orchestration (reference main.py:101-155). */
object GraftJob {

  /** S4: the JDBC read options exactly as the reference wires them
    * (validator.py:73-94): Simba Athena driver, default credentials chain,
    * read-only workgroup, and the user's where-clause pushed down inside the
    * `query` option (evaluated by Athena, not Spark). Pure so the wiring is
    * unit-testable offline; `jdbcLoad` performs the actual `format("jdbc")`
    * read when an endpoint is reachable.
    */
  def jdbcOptions(in: VectorInput,
                  url: String = "jdbc:awsathena://athena.us-east-1.amazonaws.com:443",
                  driver: String = "com.simba.athena.jdbc.Driver"): Map[String, String] = {
    val where = in.whereClause.map(w => s" WHERE $w").getOrElse("")
    Map(
      "driver" -> driver,
      "AwsCredentialsProviderClass" ->
        "com.simba.athena.amazonaws.auth.DefaultAWSCredentialsProviderChain",
      "url" -> url,
      "WorkGroup" -> "ReadOnlyWorkGroup",
      "query" ->
        s"""SELECT * FROM ${in.catalogDatabase.get}."${in.catalogTable.get}"$where""")
  }

  def jdbcLoad(spark: SparkSession, in: VectorInput, url: String): DataFrame =
    jdbcOptions(in, url).foldLeft(spark.read.format("jdbc")) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  /** S1/S2/S3/S4: extension-routed scan — .shp via the shapefile reader,
    * everything else parquet; catalog inputs go through JDBC when an
    * endpoint is configured (SPARK_GRAFT_JDBC_URL — unreachable offline),
    * else through the session catalog with the predicate applied by Spark
    * (same rows; the JDBC path pushes it to the warehouse instead).
    */
  def loadInput(spark: SparkSession, in: VectorInput): DataFrame = in.path match {
    // .shp routes through the DataSource V2 split reader (parallel record
    // ranges via .shx; one sequential split when there is no .shx)
    case Some(p) if p.endsWith(".shp") =>
      spark.read.format("shapefile").load(p)
    case Some(p) if p.endsWith(".geojson") || p.endsWith(".ndjson") =>
      graft.sources.GeoJson.read(spark, p)
    case Some(p) => spark.read.parquet(p)
    case None =>
      sys.env.get("SPARK_GRAFT_JDBC_URL") match {
        case Some(url) => jdbcLoad(spark, in, url)
        case None =>
          val t = spark.table(s"${in.catalogDatabase.get}.${in.catalogTable.get}")
          in.whereClause.map(t.where).getOrElse(t)
      }
  }

  /** Validate → Index → Resolve; returns (per-input indexed, resolved,
    * final job state). Every frame carries LONG cells and no sink layout;
    * [[write]] clusters and hexes them. The indexed frames are persisted;
    * the caller owns them and unpersists them once its writes are done.
    * Status transitions mirror the reference
    * (main.py:48-98): Pending → Validated → RunningIndexer →
    * CompletedIndexer → RunningResolver → CompletedResolver, or Failed with
    * the error message captured.
    */
  def run(spark: SparkSession, job: Job): (Map[String, DataFrame], DataFrame, JobState) = {
    var state = JobState.fresh()
    try {
      GraftFunctions.register(spark)
      // resolution-scaled shuffle partitions (reference spark.py:14-23,115);
      // local[] sessions keep partitions = cores — 8000 partitions on a
      // 32-thread JVM only adds scheduling overhead
      if (!spark.sparkContext.master.startsWith("local"))
        spark.conf.set("spark.sql.shuffle.partitions",
          graft.Sessions.shufflePartitionsFor(job.h3Resolution).toString)
      // only vector inputs are dispatched; validated raster inputs are
      // silently skipped exactly like the reference (main.py:52)
      val vectors = job.inputs.collect { case v: VectorInput => v }
      val validated = vectors.map { in =>
        in.name -> Validator.validate(spark, in, loadInput(spark, in))
      }.toMap
      // opt-in reject sink: one extra map-only pass per input that re-reads
      // the same splits and keeps only the rows validate() drops. Written
      // before indexing so a later failure still leaves the rejects behind
      // for triage. Each input's partition path is overwritten STATICALLY
      // (not partitionBy + dynamic overwrite): a rerun that produces zero
      // rejects must still clear the previous run's partition, and dynamic
      // mode only replaces partitions it writes rows into — stale rejects
      // would survive and poison per-input volume alerting.
      job.quarantinePath.foreach { qp =>
        vectors.foreach { in =>
          Validator.quarantine(spark, in, loadInput(spark, in))
            .write.mode("overwrite")
            .parquet(s"$qp/input_name=${in.name}")
        }
      }
      state = state.advance(JobStatus.Validated)
      state = state.advance(JobStatus.RunningIndexer)
      val indexed = vectors.map { in =>
        in.name -> Indexer.index(spark, in, validated(in.name), job.h3Resolution).persist()
      }.toMap
      state = state.advance(JobStatus.CompletedIndexer)
      state = state.advance(JobStatus.RunningResolver)
      val resolved = Resolver.resolve(spark,
        vectors.map(in => Resolver.resolveInput(indexed(in.name), in.inputColumns)),
        job.h3Resolution)
      state = state.advance(JobStatus.CompletedResolver)
      (indexed, resolved, state)
    } catch {
      case e: Throwable =>
        state = state.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        throw JobFailed(state, e)
    }
  }

  final case class JobFailed(state: JobState, cause: Throwable)
    extends RuntimeException(state.errorMessage.getOrElse("job failed"), cause)

  /** S5: partitioned snappy parquet (spark/spark.py:154-196), the one
    * owner of the on-disk form. Rows are clustered by h3_r3_parent (hashed
    * as the LONG cell, before the hex projection), so each partition
    * directory is written by one task. The partition count is explicit so AQE cannot coalesce a small frame's
    * write into one serial task. LONG cell columns are written as the
    * reference's hex text ([[Cols.hexCells]]), so the h3_r3_parent
    * partition directories are hex too.
    */
  def write(df: DataFrame, path: String): Unit =
    Cols.hexCells(df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      col(Cols.H3R3Parent))).write.mode("overwrite")
      .option("compression", "snappy")
      .partitionBy(Cols.H3Resolution, Cols.H3R3Parent)
      .parquet(path)
}
