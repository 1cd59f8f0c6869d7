package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

private[plans] trait VecDotInputs { self: BinaryExpression =>

  private def okElem(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _                                                  => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okElem(left.dataType) && okElem(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> inputs, got ${left.dataType} / ${right.dataType}")

  /** Java accessor snippet for element `i` of array variable `v`,
    * widened to double. */
  protected def getter(e: Expression, v: String, i: String): String =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => s"((double) $v.getFloat($i))"
      case _         => s"$v.getDouble($i)"
    }

  protected def elemAt(e: Expression, a: ArrayData, i: Int): Double =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => a.getFloat(i).toDouble
      case _         => a.getDouble(i)
    }
}

/** Native codegen'd vector dot product (double arithmetic).
  *
  * The declarative alternative (`aggregate(zip_with(...))`) runs
  * interpreted — Spark's higher-order functions don't participate in
  * whole-stage codegen and box every element; measured ~7-10× slower on
  * the ANN pair scan. This expression compiles to a tight primitive
  * loop inside the surrounding WholeStageCodegen stage.
  *
  * Accepts float or double arrays on either side (embeddings are
  * float; LSH hyperplane literals are double).
  *
  * Used as the *prefilter* scorer; exact-decimal reduction (oracle
  * semantics, see SURVEY.md §4) is applied afterwards to the few
  * surviving pairs — [[VecDotDecimal]] when the survivor set is
  * row-local (sign tests), the ddot HOF otherwise. Array elements must
  * be non-null.
  */
case class VecDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with VecDotInputs {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += elemAt(left, x, i) * elemAt(right, y, i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${getter(left, a, i)} * ${getter(right, b, i)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Exact-decimal dot product, codegen'd — the TRUE exact sum of
  * 12dp-rounded products, bit-identical to the DuckDB oracle's
  * `list_sum(list_transform(..., CAST(x*y AS DECIMAL(38,12))))`
  * reduction, compiled as a tight loop of `java.math.BigDecimal` ops
  * inside WholeStageCodegen — no lambda boxing, no interpreted HOF in
  * the plan.
  *
  * Replication argument: Spark's/DuckDB's double→DECIMAL(38,12) cast
  * is decimal-string shortest-repr + HALF_UP to 12dp ≡
  * `BigDecimal.valueOf(d).setScale(12, HALF_UP)`; the additions here
  * are exact (scale stays 12, magnitudes far below overflow); the
  * final decimal→double cast is `BigDecimal.doubleValue`.
  *
  * NOTE this is deliberately NOT the old interpreted `ddot` HOF
  * (`aggregate(zip_with(...), 0, (acc, p) => (acc + p).cast(38,12))`):
  * Spark's decimal-precision rule types `Add(dec(38,12), dec(38,12))`
  * as DECIMAL(38,11), so the HOF rounds to 11dp at EVERY accumulation
  * step — a ≤ ~1e-10 drift from the oracle's exact reduction that
  * round6 output quantization and decision margins happened to absorb.
  * This expression removes that drift: decisions that replay the
  * oracle (sign tests, argmax) are bit-exact, not margin-exact.
  * Used wherever the exact-decimal score defines operator semantics:
  * phase-2 rescoring, centroid scores, and the *rare* near-zero sign
  * recomputes in two-phase LSH signatures.
  */
case class VecDotDecimal(left: Expression, right: Expression)
    extends BinaryExpression with VecDotInputs {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vec_dot_exact"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      val p = elemAt(left, x, i) * elemAt(right, y, i)
      s = s.add(java.math.BigDecimal.valueOf(p)
        .setScale(12, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    s.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |java.math.BigDecimal $s = java.math.BigDecimal.ZERO;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s = $s.add(java.math.BigDecimal.valueOf(
         |    ${getter(left, a, i)} * ${getter(right, b, i)})
         |    .setScale(12, java.math.RoundingMode.HALF_UP));
         |}
         |${ev.value} = $s.doubleValue();
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotDecimal =
    copy(left = newLeft, right = newRight)
}

object VecDotProduct {
  /** Column-level API: fast approximate (double) dot product. Requires
    * a session from [[graft.GraftSession.local]]. */
  def vec_dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Column-level API: exact DECIMAL(38,12) dot product surfaced as
    * DOUBLE (ddot-identical). Requires a session from
    * [[graft.GraftSession.local]]. */
  def vec_dot_exact(a: Column, b: Column): Column =
    call_function("vec_dot_exact", a, b)
}
