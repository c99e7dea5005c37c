package graft.engine

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.h3.H3Index

/** The hand-written Catalyst expressions: the few calls that a plain
  * `StaticInvoke` row of [[GraftFunctions.functions]] cannot express.
  * Each generates its own code, so it stays inside whole-stage codegen.
  *
  *   - `h3_parent_long`, `h3_hex`, `h3_unhex`: [[CollapseH3Chains]]
  *     pattern-matches them, and `Cols.hexCells` builds [[H3HexExpr]].
  *   - the vector, dedup and IVF kernels: ragged pairs → NULL, codebooks
  *     and bitsets embedded in the plan, or analysis-time input checks.
  *     The table registers the four vector `*_native` names; the rest are
  *     built as Columns by their operators.
  */
object Expressions {

  /** h3_parent_long(cell LONG, res INT) → LONG (pure bit math, codegen). */
  case class H3ParentLongExpr(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = LongType
    override def prettyName: String = "h3_parent_long"

    override protected def nullSafeEval(cell: Any, res: Any): Any =
      H3Index.toParent(cell.asInstanceOf[Long], res.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (cell, res) =>
        s"graft.h3.H3Index.toParent($cell, $res)")

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** h3_hex(cell LONG) → STRING — the one place a cell becomes text. */
  case class H3HexExpr(child: Expression) extends UnaryExpression {

    override def dataType: DataType = StringType
    override def prettyName: String = "h3_hex"

    override protected def nullSafeEval(cell: Any): Any =
      UTF8String.fromString(java.lang.Long.toHexString(cell.asInstanceOf[Long]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, cell =>
        "org.apache.spark.unsafe.types.UTF8String.fromString(" +
          s"java.lang.Long.toHexString($cell))")

    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /** h3_unhex(cell STRING) → LONG — parse a hex cell back to int64. */
  case class H3UnhexExpr(child: Expression) extends UnaryExpression {

    override def dataType: DataType = LongType
    override def prettyName: String = "h3_unhex"

    override protected def nullSafeEval(cell: Any): Any =
      H3Index.fromHexString(cell.asInstanceOf[UTF8String].toString)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, cell =>
        s"graft.h3.H3Index.fromHexString($cell.toString())")

    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /** vec_dot_native(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) → DOUBLE.
    * Left-to-right accumulation — bit-identical to the HOF
    * aggregate(zip_with(...)) chain it replaces, but inside whole-stage
    * codegen: one static call on the two ArrayData, no lambda dispatch
    * per element and no intermediate product array.
    */
  case class VecDotExpr(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot_native"
    // ragged pair → NULL: zip_with null-pads the shorter side, so the HOF
    // aggregate this kernel replaces yields NULL there; truncating to the
    // common prefix would return a plausible-but-wrong dot instead
    override def nullable: Boolean = true

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val aa = a.asInstanceOf[ArrayData]; val bb = b.asInstanceOf[ArrayData]
      if (aa.numElements() != bb.numElements()) null else VecOps.dot(aa, bb)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
           |else { ${ev.value} = graft.engine.VecOps.dot($a, $b); }""".stripMargin)

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** vec_cosine_native(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) → DOUBLE, computed
    * as dot/(sqrt(dot_aa)·sqrt(dot_bb)) in exactly that operation order so
    * results match the HOF formulation (and DuckDB's) to the last ulp.
    * Zero-norm input → 0.0 (no NaN poisoning downstream sorts).
    */
  case class VecCosineExpr(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_cosine_native"
    // ragged pair → NULL (see VecDotExpr)
    override def nullable: Boolean = true

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val aa = a.asInstanceOf[ArrayData]; val bb = b.asInstanceOf[ArrayData]
      if (aa.numElements() != bb.numElements()) null else VecOps.cosine(aa, bb)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
           |else { ${ev.value} = graft.engine.VecOps.cosine($a, $b); }""".stripMargin)

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** sorted_intersect_count(a, b) → BIGINT: |a ∩ b| for DISTINCT,
    * ASCENDING-SORTED arrays (ARRAY<STRING> in binary UTF8 order, or
    * ARRAY<BIGINT>) via a single merge walk — the exact-set-similarity
    * verify kernel. Replaces `size(array_intersect(a, b))` in the
    * candidate-verify hot path: identical count, but no per-row hash set
    * and no intersected-array allocation. Sortedness is a PLAN invariant
    * (callers array_sort once per record at the build boundary, amortized
    * over that record's candidate partners), not checked per row —
    * SetOpsSpec pins agreement with array_intersect on randomized inputs.
    */
  case class SortedIntersectCountExpr(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = LongType
    override def prettyName: String = "sorted_intersect_count"

    private def isString: Boolean =
      left.dataType.asInstanceOf[ArrayType].elementType == StringType

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val aa = a.asInstanceOf[ArrayData]; val bb = b.asInstanceOf[ArrayData]
      if (isString) SetOps.intersectCountUtf8(aa, bb)
      else SetOps.intersectCountLong(aa, bb)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fn = if (isString) "intersectCountUtf8" else "intersectCountLong"
      defineCodeGen(ctx, ev, (a, b) => s"graft.engine.SetOps.$fn($a, $b)")
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** Column wrapper for SortedIntersectCountExpr (shared by the exact-
    * Jaccard verify joins in DedupQueries). */
  def sortedIntersectCount(a: org.apache.spark.sql.Column,
                           b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftBridge.column(SortedIntersectCountExpr(
      org.apache.spark.sql.GraftBridge.expression(a),
      org.apache.spark.sql.GraftBridge.expression(b)))

  /** vec_cosine_f_native(a ARRAY<FLOAT>, b ARRAY<FLOAT>) → DOUBLE — the
    * candidate-verify cosine as a codegen kernel over the float arrays in
    * place. Semantics (min-length, fused accumulators, float→double
    * widening) are bit-identical to the legacy `cosine_f` UDF
    * (OperatorPropertySpec pins doubleToLongBits equality), without the UDF's
    * Array[Float] encoder materialization or the vec_cosine_native
    * builder's per-row array<float>→array<double> Cast.
    */
  case class VecCosineFloatExpr(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_cosine_f_native"

    override protected def nullSafeEval(a: Any, b: Any): Any =
      VecOps.cosineFloat(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.engine.VecOps.cosineFloat($a, $b)")

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** Column wrapper for VecCosineFloatExpr (the embedding near-dup verify).
    * Inputs are cast to ARRAY<FLOAT> like the SQL-registration path —
    * without the cast, an array<double> column would silently read
    * 4-byte halves of 8-byte doubles (BinaryExpression does no input
    * validation); the cast is a no-op on float arrays. */
  def vecCosineFloat(a: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftBridge.column(VecCosineFloatExpr(
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.GraftBridge.expression(a), ArrayType(FloatType)),
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.GraftBridge.expression(b), ArrayType(FloatType))))

  /** shingle_hashes_sorted_native(text STRING) → ARRAY<BIGINT> — the
    * sorted-distinct shingle-hash build (Dedup.shingleHashesSorted) as a
    * codegen expression: the tokenize/shingle/hash/sort runs identically,
    * but the result lands as a primitive-backed UnsafeArrayData instead of
    * round-tripping through the Scala UDF's CatalystTypeConverters element
    * walk. Null text → null (nullSafeEval), matching the other native
    * expressions; callers needing the legacy UDF's hash-null-as-empty
    * behavior coalesce the text to '' at the call site (the minhash
    * plans do), byte-identical to what the UDF computed on null.
    */
  case class ShingleHashesSortedExpr(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {

    // analysis-time input contract: a mistyped child surfaces as an
    // AnalysisException instead of a codegen compile failure / runtime CCE
    // (no explicit Seq[AbstractDataType] annotation — that type is
    // private[sql] in Spark 4; Seq[DataType] conforms covariantly)
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_hashes_sorted_native"

    override protected def nullSafeEval(t: Any): Any =
      graft.operators.Dedup.shingleHashesSortedData(t.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, t =>
        s"graft.operators.Dedup.shingleHashesSortedData($t)")

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def shingleHashesSortedNative(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftBridge.column(ShingleHashesSortedExpr(
      org.apache.spark.sql.GraftBridge.expression(t)))

  /** minhash_bands_native(shs ARRAY<BIGINT>) → ARRAY<BIGINT> — LSH band
    * hashes from an already-built shingle-hash array, reading the longs in
    * place (no Seq[Long] boxing per row). Arithmetic and order are exactly
    * Dedup.bandHashes(minHashSignature(_)), so bands are bit-identical to
    * both the `minhash_bands_hashed` UDF and `minhash_bands(text)`
    * (DedupSpec pins the chain).
    */
  case class MinhashBandsExpr(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {

    // accepts array<bigint> regardless of containsNull (sameType ignores
    // nullability); anything else fails at analysis, not codegen
    override def inputTypes = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_bands_native"

    override protected def nullSafeEval(sh: Any): Any =
      graft.operators.Dedup.bandsFromHashesData(sh.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, sh =>
        s"graft.operators.Dedup.bandsFromHashesData($sh)")

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def minhashBandsNative(shs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftBridge.column(MinhashBandsExpr(
      org.apache.spark.sql.GraftBridge.expression(shs)))

  /** nearest_centroid(v ARRAY<DOUBLE>) → INT against a plan-embedded
    * centroid matrix (k×dim, a few KB — small enough to ship in the
    * serialized plan; a broadcast would only add a lookup). Replaces the
    * per-row Seq[Double]-boxing assignment UDF in IVF k-means: generated
    * code hands the row-backed ArrayData straight to a primitive kernel
    * with the UDF's exact operation order, so assignments are identical
    * and each Lloyd pass skips ~corpus×dim box allocations.
    */
  case class NearestCentroidExpr(child: Expression, centroids: Array[Array[Double]])
      extends UnaryExpression {

    override def dataType: DataType = IntegerType
    override def prettyName: String = "nearest_centroid_native"

    override protected def nullSafeEval(v: Any): Any =
      VecOps.nearestCentroid(v.asInstanceOf[ArrayData], centroids)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cents", centroids, "double[][]")
      defineCodeGen(ctx, ev, v => s"graft.engine.VecOps.nearestCentroid($v, $ref)")
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** nearest_centroids(v ARRAY<DOUBLE>) → ARRAY<INT>: the n nearest
    * centroid indices (probe list), distance asc / index tie-break —
    * ordering-identical to Model.nearest's stable sort.
    */
  case class NearestCentroidsExpr(child: Expression,
      centroids: Array[Array[Double]], n: Int) extends UnaryExpression {

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "nearest_centroids_native"

    override protected def nullSafeEval(v: Any): Any =
      VecOps.nearestCentroids(v.asInstanceOf[ArrayData], centroids, n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cents", centroids, "double[][]")
      defineCodeGen(ctx, ev, v =>
        s"graft.engine.VecOps.nearestCentroids($v, $ref, $n)")
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** nearest_in_codebook(v ARRAY<DOUBLE>, cents ARRAY<ARRAY<DOUBLE>>) → INT:
    * argmin cosine distance over a codebook carried in a COLUMN — the fine
    * level of the two-level IVF quantizer. Unlike NearestCentroidExpr the
    * centroid matrix never rides in the serialized plan (that path caps at
    * ~2 MB of plan bytes); it arrives per-row from a broadcast/shuffle join
    * on the coarse cell id, so total k scales with the cluster, not the
    * plan. Same distance arithmetic and first-min tie-break as the flat
    * kernel (VecOps.cosineDistAD mirrors cosineDistCent op-for-op).
    */
  case class NearestInCodebookExpr(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {

    override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)))
    override def dataType: DataType = IntegerType
    override def prettyName: String = "nearest_in_codebook_native"

    override protected def nullSafeEval(v: Any, cents: Any): Any =
      VecOps.nearestInCodebook(v.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (v, c) => s"graft.engine.VecOps.nearestInCodebook($v, $c)")

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  def nearestInCodebook(v: org.apache.spark.sql.Column,
      cents: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftBridge.column(NearestInCodebookExpr(
      org.apache.spark.sql.GraftBridge.expression(v),
      org.apache.spark.sql.GraftBridge.expression(cents)))

  /** pq_assign(sub INT, sv ARRAY<DOUBLE>) → INT: nearest code in the
    * sub-th PQ codebook by L2² — the native twin of the boxed PQ training
    * assignment UDF (same loop, first-min tie-break).
    */
  case class PqAssignExpr(left: Expression, right: Expression,
      codebooks: Array[Array[Array[Double]]]) extends BinaryExpression {

    override def dataType: DataType = IntegerType
    override def prettyName: String = "pq_assign_native"

    override protected def nullSafeEval(s: Any, sv: Any): Any =
      VecOps.nearestSubCode(codebooks(s.asInstanceOf[Int]),
        sv.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("books", codebooks, "double[][][]")
      defineCodeGen(ctx, ev, (s, sv) =>
        s"graft.engine.VecOps.nearestSubCode($ref[$s], $sv)")
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** l2_normalize_native(v ARRAY<DOUBLE>) → ARRAY<DOUBLE>: unit-scaled copy
    * with ProductQuantizer.l2normalize's arithmetic (zero vector → zeros).
    */
  case class L2NormalizeExpr(child: Expression) extends UnaryExpression {

    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "l2_normalize_native"

    override protected def nullSafeEval(v: Any): Any =
      VecOps.l2normalized(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, v => s"graft.engine.VecOps.l2normalized($v)")

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** pq_encode(v ARRAY<DOUBLE>) → ARRAY<INT>: the m PQ codes of a vector
    * against plan-embedded codebooks — PQModel.encodeOne (same subspace L2²
    * loops, first-min ties) reading straight from the row buffer. Replaces
    * the per-row Seq-boxing encode UDF on the full-corpus scan.
    */
  case class PqEncodeExpr(child: Expression,
      codebooks: Array[Array[Array[Double]]], dsub: Int, normalizeInput: Boolean)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "pq_encode_native"

    override protected def nullSafeEval(v: Any): Any =
      VecOps.pqEncode(v.asInstanceOf[ArrayData], codebooks, dsub, normalizeInput)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("books", codebooks, "double[][][]")
      defineCodeGen(ctx, ev, v =>
        s"graft.engine.VecOps.pqEncode($v, $ref, $dsub, $normalizeInput)")
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** pq_adc(key BIGINT, codes ARRAY<INT>) → DOUBLE: ADC distance against a
    * plan-embedded per-key table map (key = qid, or qid<<32|cluster for the
    * per-probed-cell residual tables). The map is Q·m·k doubles — a few
    * hundred KB at most, the same rides-in-the-plan envelope as the
    * centroid matrices.
    */
  case class PqAdcExpr(left: Expression, right: Expression,
      tables: Map[Long, Array[Array[Double]]]) extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "pq_adc_native"

    override protected def nullSafeEval(k: Any, codes: Any): Any =
      VecOps.adcLookup(tables, k.asInstanceOf[Long], codes.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tables", tables,
        "scala.collection.immutable.Map")
      defineCodeGen(ctx, ev, (k, codes) =>
        s"graft.engine.VecOps.adcLookup($ref, $k, $codes)")
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** ivf_residual(v ARRAY<DOUBLE>) → ARRAY<DOUBLE>: l2normalize(v) minus
    * the unit centroid of its nearest IVF cell — the residual-training map
    * (IvfPq.trainResidual) without per-row boxing.
    */
  case class IvfResidualExpr(child: Expression,
      centroids: Array[Array[Double]], unitCentroids: Array[Array[Double]])
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "ivf_residual_native"

    override protected def nullSafeEval(v: Any): Any =
      ArrayData.toArrayData(VecOps.ivfResidual(
        v.asInstanceOf[ArrayData], centroids, unitCentroids))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = ctx.addReferenceObj("cents", centroids, "double[][]")
      val u = ctx.addReferenceObj("ucents", unitCentroids, "double[][]")
      defineCodeGen(ctx, ev, v =>
        s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
          s"graft.engine.VecOps.ivfResidual($v, $c, $u))")
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** ivf_residual_encode(v ARRAY<DOUBLE>) → STRUCT<cluster INT, codes
    * ARRAY<INT>>: the IVFADC index row (nearest cell + residual PQ codes)
    * in ONE pass — the argmin over centroids runs once for both outputs,
    * where the UDF pair ran it twice.
    */
  case class IvfResidualEncodeExpr(child: Expression,
      centroids: Array[Array[Double]], unitCentroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], dsub: Int)
      extends UnaryExpression {

    override def dataType: DataType = StructType(Seq(
      StructField("cluster", IntegerType, nullable = false),
      StructField("codes", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    override def prettyName: String = "ivf_residual_encode_native"

    override protected def nullSafeEval(v: Any): Any =
      VecOps.ivfResidualEncode(v.asInstanceOf[ArrayData],
        centroids, unitCentroids, codebooks, dsub)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = ctx.addReferenceObj("cents", centroids, "double[][]")
      val u = ctx.addReferenceObj("ucents", unitCentroids, "double[][]")
      val b = ctx.addReferenceObj("books", codebooks, "double[][][]")
      defineCodeGen(ctx, ev, v =>
        s"graft.engine.VecOps.ivfResidualEncode($v, $c, $u, $b, $dsub)")
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** bloom_all_set(positions ARRAY<INT>) → BOOLEAN against a plan-embedded
    * bitset (m/64 longs — fixed size regardless of build-corpus size).
    * True = all bits set ("maybe present"); any clear bit proves absence,
    * so filtering on NOT bloom_all_set never drops a genuinely new row.
    */
  case class BloomAllSetExpr(child: Expression, words: Array[Long])
      extends UnaryExpression {

    override def dataType: DataType = BooleanType
    override def prettyName: String = "bloom_all_set"

    override protected def nullSafeEval(ps: Any): Any =
      BitsetOps.allSet(words, ps.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("words", words, "long[]")
      defineCodeGen(ctx, ev, ps => s"graft.engine.BitsetOps.allSet($ref, $ps)")
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Optimizer rule: collapse H3 conversion chains that plan composition
    * creates — `h3_unhex(h3_hex(x))` → `x` (exact: toHexString/parse
    * round-trips any int64 bit pattern, null-through on both) and
    * `h3_parent_long(h3_parent_long(x, a), b)` → `h3_parent_long(x, b)`
    * for literal resolutions a ≥ b (ancestor-of-ancestor). The first
    * arises when a just-hexed indexed frame feeds the resolver's LONG
    * fold; the second when rollupToRes output is re-rolled coarser.
    */
  object CollapseH3Chains extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

    // the function builders wrap args in explicit Casts; see through
    // the no-op ones (same source/target type)
    private def unwrap(e: Expression): Expression = e match {
      case c: Cast if c.child.dataType == c.dataType => unwrap(c.child)
      case other => other
    }

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformAllExpressions {
        case u @ H3UnhexExpr(inner) => unwrap(inner) match {
          case H3HexExpr(x) => x
          case _ => u
        }
        case p @ H3ParentLongExpr(inner, Literal(b: Int, IntegerType)) =>
          unwrap(inner) match {
            case H3ParentLongExpr(x, Literal(a: Int, IntegerType)) if b <= a =>
              H3ParentLongExpr(x, Literal(b))
            case _ => p
          }
      }
  }
}
