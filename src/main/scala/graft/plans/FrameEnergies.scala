package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native codegen'd per-frame energy: `frame_energies(payload, fb)`
  * maps a `binary` payload to the `array<long>` of per-frame centered
  * energies Σ(b−128)² over fixed-stride `fb`-byte frames
  * (`ceil(len/fb)` frames; the short tail frame sums only its actual
  * bytes — the zero-padding convention contributes 0). Bytes are
  * UNSIGNED (b & 0xFF), matching the `ascii()` reading of the ASCII
  * oracle corpus and the unsigned-PCM convention for real audio.
  *
  * Why this exists: the first mm_audio_vad cut computed the same sum
  * as `aggregate(transform(split(frame, "")))` — three interpreted
  * higher-order functions plus a per-character split in the ONE loop
  * that touches every payload byte (the pattern SURVEY §5 bans from
  * hot paths; lambda functions don't participate in whole-stage
  * codegen and box every element). THIS is a primitive long[] loop
  * inlined into the surrounding WholeStageCodegen stage, one pass
  * over the payload, no per-frame substr, no string round-trip — and
  * `posexplode` of the result IS the frame stream (an empty payload
  * yields an empty array, so the empty-doc engine-parity guard is
  * structural here). A null payload yields null.
  *
  * `fb` must be a foldable integer ≥ 1 (a literal in SQL), mirroring
  * [[NgramArray]]'s n.
  */
case class FrameEnergies(child: Expression, frameBytes: Int)
    extends UnaryExpression {

  override def prettyName: String = "frame_energies"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType if frameBytes >= 1 => TypeCheckResult.TypeCheckSuccess
    case BinaryType =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: frame size must be >= 1, got $frameBytes")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary payload, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val len = bytes.length
    val m = (len + frameBytes - 1) / frameBytes
    val out = new Array[Long](m)
    var i = 0
    while (i < len) {
      val d = (bytes(i) & 0xff) - 128
      out(i / frameBytes) += (d * d).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val len = ctx.freshName("len")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val out = ctx.freshName("out")
      val gad = classOf[GenericArrayData].getName
      s"""
         |int $len = $b.length;
         |int $m = ($len + ${frameBytes - 1}) / $frameBytes;
         |long[] $out = new long[$m];
         |for (int $i = 0; $i < $len; $i++) {
         |  int $d = ($b[$i] & 0xFF) - 128;
         |  $out[$i / $frameBytes] += (long) ($d * $d);
         |}
         |${ev.value} = new $gad($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FrameEnergies =
    copy(child = newChild)
}

object FrameEnergies {
  /** Expression builder in the [[GraftExtensions]] function table. */
  def fromExprs(exprs: Seq[Expression]): FrameEnergies = {
    require(exprs.length == 2,
      "frame_energies(payload, fb) expects exactly two arguments")
    require(exprs(1).foldable,
      "frame_energies(payload, fb): fb must be a literal integer")
    val fb = exprs(1).eval() match {
      case i: Int   => i
      case l: Long  => l.toInt
      case s: Short => s.toInt
      case b: Byte  => b.toInt
      case other => throw new IllegalArgumentException(
        s"frame_energies(payload, fb): fb must be an integer literal, got $other")
    }
    FrameEnergies(exprs(0), fb)
  }

  /** Column-level API. Requires a session from
    * [[graft.GraftSession.local]]. */
  def frame_energies(payload: Column, fb: Int): Column =
    call_function("frame_energies", payload,
      org.apache.spark.sql.functions.lit(fb))
}
