package graft.engine

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.h3.H3Index

/** The hand-written Catalyst expressions. The rule: a SQL name is a row of
  * [[GraftFunctions.functions]]; every other kernel is a Column (a
  * `udf`/`udaf` value, or a `StaticInvoke` through `GraftFunctions.kernel`,
  * with plan-time constants as ObjectType literals). A case class exists
  * here only for a call that a `StaticInvoke` cannot express. Each
  * generates its own code, so it stays inside whole-stage codegen.
  *
  *   - `h3_parent_long`, `h3_hex`, `h3_unhex`: [[CollapseH3Chains]]
  *     pattern-matches them, and `Cols.hexCells` builds [[H3HexExpr]].
  *   - `vec_dot_native`, `vec_cosine_native`: a ragged pair gives NULL,
  *     which a primitive-returning `StaticInvoke` cannot.
  *   - `sorted_intersect_count`: dispatches on the arrays' element type.
  *   - `shingle_hashes_sorted_native`, `minhash_bands_native`: a mistyped
  *     input fails at analysis, where an implicit-cast `StaticInvoke`
  *     would accept it.
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

  /** shingle_hashes_sorted_native(text STRING) → ARRAY<BIGINT> — the
    * sorted-distinct shingle-hash build (Dedup.shingleHashesSorted) as a
    * codegen expression: the tokenize/shingle/hash/sort runs identically,
    * but the result lands as a primitive-backed UnsafeArrayData with no
    * CatalystTypeConverters element walk. Null text → null (nullSafeEval),
    * matching the other native expressions; callers needing the Scala
    * kernel's hash-null-as-empty behavior coalesce the text to '' at the
    * call site (the minhash plans do), byte-identical to what
    * Dedup.shingleHashesSorted computes on null.
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
    * Dedup.minHashBands(text) (DedupSpec and ExpressionsSpec pin the chain).
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
