package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native codegen'd byte-value histogram: `byte_histogram(payload, b)`
  * maps a `binary` payload to the `array<long>` of per-bucket counts
  * over `b` equal-width unsigned-byte buckets (`256 / b` values per
  * bucket; `b` must divide 256 so buckets partition the value range
  * exactly). The media tier's distribution probe — flat/constant
  * payloads (dead sensors, solid-color frames, truncated transfers)
  * concentrate into one bucket, which downstream QC turns into an
  * integer keep/flag verdict.
  *
  * Same execution argument as [[FrameEnergies]]: this is the one loop
  * that touches every payload byte, so it is a primitive long[] pass
  * inlined into WholeStageCodegen — not an interpreted
  * `aggregate(transform(split(...)))` chain (SURVEY §5). An empty
  * payload yields the all-zero bucket array; a null payload yields
  * null. `b` must be a foldable integer, mirroring [[NgramArray]]'s n.
  */
case class ByteHistogram(child: Expression, buckets: Int)
    extends UnaryExpression {

  override def prettyName: String = "byte_histogram"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType if buckets >= 1 && 256 % buckets == 0 =>
      TypeCheckResult.TypeCheckSuccess
    case BinaryType =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: bucket count must be >= 1 and divide 256, got $buckets")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary payload, got $other")
  }

  private def width: Int = 256 / buckets

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val out = new Array[Long](buckets)
    var i = 0
    while (i < bytes.length) {
      out((bytes(i) & 0xff) / width) += 1L
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val gad = classOf[GenericArrayData].getName
      s"""
         |long[] $out = new long[$buckets];
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $out[($b[$i] & 0xFF) / $width] += 1L;
         |}
         |${ev.value} = new $gad($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ByteHistogram =
    copy(child = newChild)
}

object ByteHistogram {
  /** Expression builder in the [[GraftExtensions]] function table. */
  def fromExprs(exprs: Seq[Expression]): ByteHistogram = {
    require(exprs.length == 2,
      "byte_histogram(payload, buckets) expects exactly two arguments")
    require(exprs(1).foldable,
      "byte_histogram(payload, buckets): buckets must be a literal integer")
    val b = exprs(1).eval() match {
      case i: Int   => i
      case l: Long  => l.toInt
      case s: Short => s.toInt
      case bb: Byte => bb.toInt
      case other => throw new IllegalArgumentException(
        s"byte_histogram(payload, buckets): buckets must be an integer literal, got $other")
    }
    ByteHistogram(exprs(0), b)
  }

  /** Column-level API. Requires a session from
    * [[graft.GraftSession.local]]. */
  def byte_histogram(payload: Column, buckets: Int): Column =
    call_function("byte_histogram", payload,
      org.apache.spark.sql.functions.lit(buckets))
}
