package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd word n-gram builder: `ngrams(tokens, n)` maps an
  * `array<string>` of tokens to the `array<string>` of its space-joined
  * n-grams (length `max(0, len − n + 1)`), entirely row-local.
  *
  * Why this exists (the third point of a measured triangle):
  *  - the window formulation (`posexplode` + `lead(word, j).over(doc
  *    window)`) is codegen'd but forces an Exchange(doc_id) + per-doc
  *    Sort of the ENTIRE corpus token stream before a single n-gram
  *    exists — at 100 TB that is the largest shuffle in the dedup
  *    stage, moving data that never needed to leave its input row;
  *  - the declarative higher-order-function formulation
  *    (`transform(sequence(...), i -> concat_ws(element_at...))`) is
  *    narrow but runs interpreted — Spark's lambda functions do not
  *    participate in whole-stage codegen and box every element
  *    (measured ~3× slower than the window variant on the shingle
  *    scan, which is why rounds 1-8 kept the windows);
  *  - THIS expression is narrow AND codegen'd: a tight
  *    `UTF8String.concatWs` loop inlined into the surrounding
  *    WholeStageCodegen stage. The token stream never shuffles; the
  *    first Exchange a consumer pays is its own aggregation, which is
  *    map-side combinable (partial MinHash mins, partial gram counts).
  *
  * `n` must be a foldable integer ≥ 1 (a literal in SQL), mirroring the
  * sketch builders' capacity argument. A gram whose window contains a
  * NULL token is DROPPED (never emitted): `UTF8String.concatWs` SKIPS
  * nulls (concat_ws semantics), so joining would silently alias the
  * window to a shorter gram — `ngrams(array('a', NULL, 'b'), 3)` would
  * collide with the 2-gram 'a b'. The engine's own token streams come
  * from split() and never contain nulls (the drop never fires there),
  * but the function is exposed in SQL via SparkSessionExtensions where
  * arbitrary arrays are possible, and a dedup/blocking consumer must
  * not see aliased keys. A null input ARRAY yields null.
  */
case class NgramArray(child: Expression, n: Int)
    extends UnaryExpression {

  override def prettyName: String = "ngrams"

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName: n must be >= 1, got $n")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string> tokens, got $other")
  }

  private val sep = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val len = a.numElements()
    val m = math.max(0, len - (n - 1))
    val out = new Array[AnyRef](m)
    var k = 0
    var w = 0
    while (k < m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      var hasNull = false
      while (j < n) {
        if (a.isNullAt(k + j)) hasNull = true
        else parts(j) = a.getUTF8String(k + j)
        j += 1
      }
      if (!hasNull) { out(w) = UTF8String.concatWs(sep, parts: _*); w += 1 }
      k += 1
    }
    new GenericArrayData(if (w == m) out else java.util.Arrays.copyOf(out, w))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val sepRef = ctx.addReferenceObj("sep", sep, classOf[UTF8String].getName)
      val len = ctx.freshName("len")
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val out = ctx.freshName("out")
      val utf8 = classOf[UTF8String].getName
      val gad = classOf[GenericArrayData].getName
      val w = ctx.freshName("w")
      val nullCheck = (0 until n).map(j => s"$a.isNullAt($k + $j)").mkString(" || ")
      val args = (0 until n).map(j => s"$a.getUTF8String($k + $j)").mkString(", ")
      s"""
         |int $len = $a.numElements();
         |int $m = $len - ${n - 1}; if ($m < 0) $m = 0;
         |$utf8[] $out = new $utf8[$m];
         |int $w = 0;
         |for (int $k = 0; $k < $m; $k++) {
         |  if (!($nullCheck)) {
         |    $out[$w++] = $utf8.concatWs($sepRef, $args);
         |  }
         |}
         |${ev.value} = new $gad($w == $m ? $out : java.util.Arrays.copyOf($out, $w));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NgramArray =
    copy(child = newChild)
}

object NgramArray {
  /** Expression builder in the [[GraftExtensions]] function table. */
  def fromExprs(exprs: Seq[Expression]): NgramArray = {
    require(exprs.length == 2,
      "ngrams(tokens, n) expects exactly two arguments")
    require(exprs(1).foldable,
      "ngrams(tokens, n): n must be a literal integer, e.g. ngrams(ts, 3)")
    val n = exprs(1).eval() match {
      case i: Int   => i
      case l: Long  => l.toInt
      case s: Short => s.toInt
      case b: Byte  => b.toInt
      case other => throw new IllegalArgumentException(
        s"ngrams(tokens, n): n must be an integer literal, got $other")
    }
    NgramArray(exprs(0), n)
  }

  /** Column-level API. Requires a session from
    * [[graft.GraftSession.local]]. */
  def ngrams(tokens: Column, n: Int): Column =
    call_function("ngrams", tokens, org.apache.spark.sql.functions.lit(n))
}
