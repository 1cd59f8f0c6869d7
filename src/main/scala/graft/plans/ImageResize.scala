package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** The REAL resize tier for image payloads: decode via the JDK's
  * pure-Java `javax.imageio` readers ([[ImageDecode]], shared with
  * image_meta/image_phash), then integer-region area-average resample
  * of the luminance plane to a caller-chosen target grid — the same
  * deterministic resample [[ImagePhash]] uses for its 32×32 stage
  * (each target cell averages its ≥1-pixel integer source rectangle,
  * so any input size maps to the same grid bit-stably). Returns the
  * resized gray plane as `tw*th` bytes; NULL when no reader claims
  * the payload — the modality-routing signal that sends the row to
  * the byte-stride fallback in [[graft.operators.Multimodal]].
  *
  * This is thumbnailing as a training pipeline needs it: a narrow,
  * codegen'd per-row transform whose output is orders of magnitude
  * smaller than its input — run it early and every downstream shuffle
  * carries thumbnails, never payloads.
  */
object ImageResize {

  /** Integer-region area-average resample of a `w×h` gray plane to
    * `tw×th`. Pure integer bookkeeping + one double division per
    * target cell, bit-stable everywhere. */
  def areaResample(luma: Array[Byte], w: Int, h: Int, tw: Int, th: Int): Array[Byte] = {
    val out = new Array[Byte](tw * th)
    var ty = 0
    while (ty < th) {
      val y0 = ty * h / th
      val y1 = math.max(y0 + 1, (ty + 1) * h / th)
      var tx = 0
      while (tx < tw) {
        val x0 = tx * w / tw
        val x1 = math.max(x0 + 1, (tx + 1) * w / tw)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += luma(y * w + x) & 0xff; x += 1 }
          y += 1
        }
        out(ty * tw + tx) = (sum.toDouble / ((y1 - y0) * (x1 - x0))).toInt.toByte
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** Ceiling on target pixels: thumbnails are the point of this
    * expression — a grid this size is already a 16 MB per-row
    * allocation, far past any thumbnail and into
    * crash-the-executor territory for a typo'd dimension. */
  val MaxTargetPixels: Int = 16 * 1024 * 1024

  /** Decode attempt + resample; null when no reader claims the
    * payload. Static so generated code can call it. */
  def resizeOrNull(payload: Array[Byte], tw: Int, th: Int): Array[Byte] = {
    require(tw > 0 && th > 0 && tw.toLong * th <= MaxTargetPixels,
      s"image_resize: target ${tw}x$th out of range (need positive dims, " +
        s"at most $MaxTargetPixels pixels)")
    ImageDecode.decode(payload) match {
      case Some(d) if d.width > 0 && d.height > 0 =>
        areaResample(d.luma, d.width, d.height, tw, th)
      case _ => null
    }
  }
}

/** `image_resize(binary, tw, th)` → nullable BINARY: the decoded
  * luminance plane resampled to tw×th gray bytes, as a codegen'd
  * Catalyst expression (extension tier (b) — no UDF). NULL means "not
  * an image" — the router bit for the byte-stride fallback. */
case class ImageResize(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType == BinaryType &&
        second.dataType == IntegerType && third.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"image_resize expects (binary, int, int), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(p: Any, tw: Any, th: Any): Any =
    ImageResize.resizeOrNull(p.asInstanceOf[Array[Byte]],
      tw.asInstanceOf[Int], th.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, tw, th) =>
      s"""byte[] ${ev.value}_r = graft.plans.ImageResize.resizeOrNull($p, $tw, $th);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r; }""".stripMargin)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): ImageResize =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object ImageResizeFn {
  def image_resize(c: Column, tw: Column, th: Column): Column =
    call_function("image_resize", c, tw, th)
}
