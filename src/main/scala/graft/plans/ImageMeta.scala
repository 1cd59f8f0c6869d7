package graft.plans

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Real image decode for the multimodal tier, on the JDK's bundled
  * `javax.imageio` readers (PNG, BMP, GIF, JPEG — all ship with the
  * JDK, no codecs to install). Returns the decoded luminance plane + typed
  * metadata; payloads that no reader claims (e.g. the documents
  * corpus's text bytes) decode to `None` and flow to the documented
  * deterministic fallback — the decode contract every payload passes
  * through, whether or not it is an image.
  *
  * Determinism: PNG/BMP are lossless formats with bit-exact decoders;
  * luminance is integer ITU-R 601 ((299·R + 587·G + 114·B) / 1000,
  * integer division) so the plane replays exactly on any JVM.
  */
object ImageDecode {

  final case class Decoded(format: String, width: Int, height: Int,
      luma: Array[Byte])

  /** Magic-byte prefilter over the JDK's bundled reader set: every
    * registered `ImageReaderSpi.canDecodeInput` (PNG, JPEG, GIF, BMP,
    * TIFF, WBMP — the full JDK-default registry) rejects any stream
    * whose leading bytes fail this test, so returning false here is
    * EXACTLY the "no reader claims it" outcome of the full probe —
    * without paying `ImageIO.createImageInputStream`'s per-payload
    * stream setup (temp-file-backed by default: a disk round-trip per
    * row) and the six-provider probe loop for the overwhelmingly
    * common non-image payload. WBMP is the one header-less format:
    * its SPI demands type byte 0 and fix-header byte 0 before its
    * deeper length checks, so `00 00` prefixes fall through to the
    * full probe rather than being decided here. Measured: mm_resize's
    * per-row cost is dominated by the stream setup this skips. */
  private def mightBeImage(p: Array[Byte]): Boolean = {
    val b0 = p(0) & 0xff; val b1 = p(1) & 0xff; val b2 = p(2) & 0xff
    (b0 == 0x89 && b1 == 0x50 && b2 == 0x4e) || // PNG \x89PN
    (b0 == 0xff && b1 == 0xd8 && b2 == 0xff) || // JPEG SOI
    (b0 == 'G'  && b1 == 'I'  && b2 == 'F')  || // GIF8xa
    (b0 == 'B'  && b1 == 'M')                 || // BMP
    (b0 == 'I'  && b1 == 'I'  && b2 == 0x2a) || // TIFF LE
    (b0 == 'M'  && b1 == 'M'  && b2 == 0x00) || // TIFF BE
    (b0 == 0x00 && b1 == 0x00)                  // WBMP candidate
  }

  def decode(payload: Array[Byte]): Option[Decoded] = {
    if (payload == null || payload.length < 8) return None
    if (!mightBeImage(payload)) return None
    try {
      // memory-backed stream: ImageIO.createImageInputStream defaults
      // to a FileCacheImageInputStream (temp file + delete per call);
      // the cache is pointless for an in-memory payload and the same
      // ImageInputStream contract is served from the heap
      val in = new javax.imageio.stream.MemoryCacheImageInputStream(
        new ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(in)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(in)
          val fmt = reader.getFormatName.toLowerCase
          val img = reader.read(0)
          val w = img.getWidth
          val h = img.getHeight
          val luma = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val r = (rgb >> 16) & 0xff
              val g = (rgb >> 8) & 0xff
              val b = rgb & 0xff
              luma(y * w + x) = ((299 * r + 587 * g + 114 * b) / 1000).toByte
              x += 1
            }
            y += 1
          }
          Some(Decoded(fmt, w, h, luma))
        } finally reader.dispose()
      } finally if (in != null) in.close()
    } catch { case _: Exception => None }
  }

  /** Decode attempt as an InternalRow for [[ImageMeta]]; static so the
    * generated code can call it. */
  def metaRow(payload: Array[Byte]): InternalRow = {
    decode(payload) match {
      case Some(d) =>
        var sum = 0L
        var i = 0
        while (i < d.luma.length) { sum += d.luma(i) & 0xff; i += 1 }
        val mean =
          if (d.luma.length == 0) 0.0
          else math.floor(sum.toDouble / d.luma.length * 1e6 + 0.5) / 1e6
        InternalRow(UTF8String.fromString(d.format), d.width, d.height, mean)
      case None => InternalRow(null, null, null, null)
    }
  }
}

/** `image_meta(binary)` → struct(format, width, height, mean_luma):
  * the decode probe as a Catalyst expression (extension tier (b) — no
  * UDF, no mapPartitions), codegen'd as a static call so the
  * surrounding projection stays in WholeStageCodegen. NULL fields mean
  * "no installed reader claims this payload" — the fallback signal. */
case class ImageMeta(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"image_meta expects binary, got ${child.dataType}")

  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("mean_luma", DoubleType, nullable = true)))

  override def nullable: Boolean = false

  // nullable=false means a NULL payload still yields a (non-null)
  // struct of null fields. The inherited interpreted eval would
  // short-circuit NULL input to a NULL struct while the codegen path
  // (which runs resultCode unconditionally when nullable=false) calls
  // metaRow(null) — route both through metaRow so they agree.
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    ImageDecode.metaRow(if (v == null) null else v.asInstanceOf[Array[Byte]])
  }

  override def nullSafeEval(input: Any): Any =
    ImageDecode.metaRow(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.plans.ImageDecode.metaRow($b);")

  override protected def withNewChildInternal(newChild: Expression): ImageMeta =
    copy(child = newChild)
}

object ImageMeta {
  def image_meta(c: Column): Column = call_function("image_meta", c)
}
