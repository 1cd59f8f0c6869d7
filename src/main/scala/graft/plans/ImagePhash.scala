package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** The REAL perceptual hash (pHash): 64 DCT-sign bits over decoded
  * luminance — the standard construction (resample the luma plane to
  * 32×32, 2-D DCT-II, keep the 8×8 low-frequency block, threshold each
  * coefficient against the median of the 63 AC coefficients). Image
  * payloads any installed `javax.imageio` reader claims (PNG, BMP,
  * GIF, and the JDK's bundled JPEG codec) get this signature;
  * everything else yields NULL and flows to the byte-gram SimHash
  * fallback in [[graft.operators.Multimodal]] — one signature frame,
  * two modality tiers.
  *
  * Determinism: the resample is integer-region area averaging, the DCT
  * is a fixed-order double summation over a precomputed cosine table —
  * bit-stable for a given decoded plane; PNG/BMP/GIF decode bit-exactly
  * everywhere and JPEG decodes deterministically within a JDK.
  */
object ImagePhash {

  private val N = 32

  /** cosTable(u)(x) = cos((2x+1)·u·π/64) — the DCT-II basis. */
  private val cosTable: Array[Array[Double]] =
    Array.tabulate(N, N)((u, x) => math.cos((2 * x + 1) * u * math.Pi / (2 * N)))

  /** 64-bit DCT-sign signature of a luminance plane. */
  def phash64(luma: Array[Byte], w: Int, h: Int): Long = {
    // area-average resample to 32×32: each target cell averages its
    // integer source rectangle (≥1 pixel), so any input size maps to
    // the same grid deterministically
    val g = Array.ofDim[Double](N, N)
    var ty = 0
    while (ty < N) {
      val y0 = ty * h / N
      val y1 = math.max(y0 + 1, (ty + 1) * h / N)
      var tx = 0
      while (tx < N) {
        val x0 = tx * w / N
        val x1 = math.max(x0 + 1, (tx + 1) * w / N)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += luma(y * w + x) & 0xff; x += 1 }
          y += 1
        }
        g(ty)(tx) = sum.toDouble / ((y1 - y0) * (x1 - x0))
        tx += 1
      }
      ty += 1
    }
    // separable 2-D DCT-II, low-frequency 8×8 block only: rows first
    // (32 rows × 8 u-frequencies), then columns (8×8)
    val rows = Array.ofDim[Double](N, 8)
    var y = 0
    while (y < N) {
      var u = 0
      while (u < 8) {
        var acc = 0.0
        var x = 0
        while (x < N) { acc += g(y)(x) * cosTable(u)(x); x += 1 }
        rows(y)(u) = acc
        u += 1
      }
      y += 1
    }
    val flat = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var acc = 0.0
        var yy = 0
        while (yy < N) { acc += rows(yy)(u) * cosTable(v)(yy); yy += 1 }
        flat(v * 8 + u) = acc
        u += 1
      }
      v += 1
    }
    // lower median of the 63 AC coefficients (DC excluded from the
    // threshold but still gets a bit — it lands above the median for
    // any non-degenerate image, a constant bit that cancels in
    // hamming distances)
    val ac = java.util.Arrays.copyOfRange(flat, 1, 64)
    java.util.Arrays.sort(ac)
    val med = ac(31)
    var sig = 0L
    var k = 0
    while (k < 64) { if (flat(k) > med) sig |= 1L << k; k += 1 }
    sig
  }

  /** Decode attempt + signature; null when no reader claims the
    * payload (the modality-routing signal). Static so generated code
    * can call it. */
  def phashOrNull(payload: Array[Byte]): java.lang.Long =
    ImageDecode.decode(payload) match {
      case Some(d) => java.lang.Long.valueOf(phash64(d.luma, d.width, d.height))
      case None    => null
    }
}

/** `image_phash(binary)` → nullable BIGINT: the DCT-sign pHash as a
  * Catalyst expression (extension tier (b) — no UDF), codegen'd as a
  * static call so the projection stays in WholeStageCodegen. NULL means
  * "not an image" — the router bit for the byte-gram fallback. */
case class ImagePhash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"image_phash expects binary, got ${child.dataType}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    ImagePhash.phashOrNull(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"""java.lang.Long ${ev.value}_r = graft.plans.ImagePhash.phashOrNull($b);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.longValue(); }""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ImagePhash =
    copy(child = newChild)
}

object ImagePhashFn {
  def image_phash(c: Column): Column = call_function("image_phash", c)
}
