package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The multimodal ops' oracle contract: DuckDB 1.0 has no BLOB
  * digests, so the oracle hashes the text while Spark hashes the
  * binary payload — which only agree because every test document is
  * pure ASCII (byte and char offsets coincide, UTF-8 bytes equal the
  * string). Pin that assumption and the binary-side invariants. */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("documents are ASCII, so string digests equal payload digests") {
    val nonAscii = Tables.documents(spark, sf)
      .filter(col("text").rlike("[^\\x00-\\x7F]")).count()
    assert(nonAscii == 0, s"$nonAscii non-ASCII docs break the digest oracle")
    // and the binary payload really is the UTF-8 of the text
    val mismatched = Tables.documents(spark, sf)
      .filter(length(col("text").cast("binary")) =!= length(col("text"))).count()
    assert(mismatched == 0)
  }

  // --- real decode path (javax.imageio, pure JVM) -----------------------

  /** Deterministic test image: RGB gradient r=(x·7)%256, g=(y·13)%256,
    * b=(x+y)%256 — plus its expected integer-601 luminance plane. */
  private def testImage(w: Int, h: Int): (java.awt.image.BufferedImage, Array[Int]) = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val luma = new Array[Int](w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 7) % 256; val g = (y * 13) % 256; val b = (x + y) % 256
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
      luma(y * w + x) = (299 * r + 587 * g + 114 * b) / 1000
    }
    (img, luma)
  }

  private def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("image payloads take the real javax.imageio decode path") {
    import spark.implicits._
    val (img, luma) = testImage(17, 9)
    val png = encode(img, "png")
    val bmp = encode(img, "bmp")
    val txt = "plain text payload".getBytes("UTF-8")
    val rows = Seq((1L, png), (2L, bmp), (3L, txt)).toDF("doc_id", "payload")
      .select(col("doc_id"),
        graft.plans.ImageMeta.image_meta(col("payload")).as("m"))
      .select(col("doc_id"), col("m.format"), col("m.width"),
        col("m.height"), col("m.mean_luma"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val meanExp = math.floor(
      luma.map(_.toLong).sum.toDouble / luma.length * 1e6 + 0.5) / 1e6
    for ((id, fmt) <- Seq(1L -> "png", 2L -> "bmp")) {
      val r = rows(id)
      assert(r.getString(1) == fmt, s"doc $id decoded as ${r.getString(1)}")
      assert(r.getInt(2) == 17 && r.getInt(3) == 9)
      // PNG and BMP are lossless: the decoded luminance plane — and so
      // its mean — must be bit-exact vs the ground-truth computation
      assert(r.getDouble(4) == meanExp, s"$fmt mean ${r.getDouble(4)} != $meanExp")
    }
    assert(rows(3L).isNullAt(1) && rows(3L).isNullAt(2), "text must fall back")
  }

  test("image_resize area-averages the decoded plane; non-images route to fallback") {
    import spark.implicits._
    val (img, luma) = testImage(32, 16)
    val png = encode(img, "png")
    val txt = "not an image at all".getBytes("UTF-8")
    val rows = Seq((1L, png), (2L, txt)).toDF("doc_id", "payload")
      .select(col("doc_id"),
        graft.plans.ImageResizeFn.image_resize(col("payload"), lit(8), lit(8)).as("r"))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[Array[Byte]]("r"))).toMap
    assert(rows(2L).isEmpty, "text payload must route to the fallback tier")
    val got = rows(1L).get
    assert(got.length == 64)
    // PNG is lossless, so every 8x8 cell must equal the hand-computed
    // integer-region area average of the ground-truth luminance plane
    for (ty <- 0 until 8; tx <- 0 until 8) {
      val y0 = ty * 16 / 8; val y1 = math.max(y0 + 1, (ty + 1) * 16 / 8)
      val x0 = tx * 32 / 8; val x1 = math.max(x0 + 1, (tx + 1) * 32 / 8)
      val cell = for (y <- y0 until y1; x <- x0 until x1) yield luma(y * 32 + x)
      val want = (cell.map(_.toLong).sum.toDouble / cell.size).toInt
      assert((got(ty * 8 + tx) & 0xff) == want,
        s"cell ($tx,$ty): ${got(ty * 8 + tx) & 0xff} != $want")
    }
    // the registry op routes every (imageless) document to byte_stride
    val reg = Registry.queries("mm_resize")(spark, sf)
    assert(reg.filter(col("method") =!= "byte_stride").count() == 0)
    assert(reg.filter(col("thumb_md5").isNull).count() == 0)
  }

  test("image payloads get the real DCT pHash; text falls back to NULL") {
    import spark.implicits._
    val (img, luma) = testImage(48, 32)
    val png = encode(img, "png")
    val bmp = encode(img, "bmp")
    // JPEG comparison needs an image with DENSE low-frequency energy:
    // every one of the 63 thresholded coefficients must sit well away
    // from the AC median, or its sign bit is noise that any
    // perturbation flips (a flat gradient concentrates energy in 2-3
    // coefficients and leaves the rest ~0 — pHash's robustness is a
    // statement about images with low-frequency structure, which is
    // what natural photos are). Synthesize one straight from the DCT
    // basis: grayscale 32×32 = 128 + Σ ±6·cos(u)·cos(v) over the 8×8
    // block, deterministic signs.
    val smooth = {
      val im2 = new java.awt.image.BufferedImage(
        32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) {
        var s = 128.0
        for (u <- 0 to 7; v <- 0 to 7; if u + v > 0) {
          // DISTINCT spread amplitudes (a permutation of ~-8..8 ×0.25):
          // every coefficient lands a separated distance from the AC
          // median, so no sign bit sits within compression noise of
          // the threshold
          val k = v * 8 + u
          val amp = (((k * 37) % 64) - 32) * 0.25
          s += amp *
            math.cos((2 * x + 1) * u * math.Pi / 64) *
            math.cos((2 * y + 1) * v * math.Pi / 64)
        }
        val p = math.max(0, math.min(255, s.round.toInt))
        im2.setRGB(x, y, (p << 16) | (p << 8) | p)
      }
      im2
    }
    val smoothPng = encode(smooth, "png")
    // the JDK's bundled JPEG codec, explicit quality 0.9 (default 0.75
    // quantization noise on a 32×32 image rivals small coefficients)
    val smoothJpg = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(0.9f)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(smooth, null, null), params)
      ios.close(); writer.dispose()
      bos.toByteArray
    }
    // inverted copy — structurally opposite image
    val inv = {
      val im2 = new java.awt.image.BufferedImage(
        48, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 48)
        im2.setRGB(x, y, ~img.getRGB(x, y) & 0xffffff)
      encode(im2, "png")
    }
    val txt = "plain text payload, long enough for grams".getBytes("UTF-8")
    val sigs = Seq((1L, png), (2L, bmp), (3L, smoothJpg), (4L, inv),
        (5L, txt), (6L, smoothPng))
      .toDF("doc_id", "payload")
      .select(col("doc_id"),
        graft.plans.ImagePhashFn.image_phash(col("payload")).as("sig"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

    // pinned: the expression's signature equals the DCT-sign bits of
    // the ground-truth luminance plane computed INDEPENDENTLY of the
    // decoder (testImage's integer ITU-R 601 luma)
    val expected = graft.plans.ImagePhash.phash64(
      luma.map(_.toByte), 48, 32)
    assert(sigs(1L).contains(expected), s"png sig ${sigs(1L)} != $expected")
    // lossless formats agree bit-for-bit
    assert(sigs(2L).contains(expected), "bmp must produce the identical signature")
    // JPEG is lossy but pHash is built to survive compression
    val dJpg = java.lang.Long.bitCount(sigs(3L).get ^ sigs(6L).get)
    assert(dJpg <= 10, s"jpeg drifted $dJpg bits from the lossless signature")
    // an inverted image flips most DCT signs
    val dInv = java.lang.Long.bitCount(sigs(4L).get ^ expected)
    assert(dInv > 10, s"inverted image unexpectedly close: $dInv bits")
    // DC sits above the AC median for any non-degenerate image
    assert((expected & 1L) == 1L, "DC bit must be set")
    assert(sigs(5L).isEmpty, "text must route to the gram fallback")
  }

  test("phash near-dup routes modalities through one signature frame") {
    import spark.implicits._
    val (img, _) = testImage(48, 32)
    val png = encode(img, "png")
    val bmp = encode(img, "bmp")
    val inv = {
      val im2 = new java.awt.image.BufferedImage(
        48, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 48)
        im2.setRGB(x, y, ~img.getRGB(x, y) & 0xffffff)
      encode(im2, "png")
    }
    // long texts (hundreds of grams) so a one-char edit moves only a
    // few SimHash votes — the regime the gram tier is built for
    val base = Seq.fill(12)("the quick brown fox jumps over the lazy dog and then naps by the warm fire").mkString(" ")
    val txtA = base.getBytes("UTF-8")
    val txtB = base.replaceFirst("naps", "nips").getBytes("UTF-8")
    val docs = Seq((1L, png), (2L, bmp), (3L, inv), (4L, txtA), (5L, txtB))
      .toDF("doc_id", "payload")
    val pairs = operators.Multimodal.phashPairsOf(docs, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // identical image, two lossless encodings → hamming 0 through the
    // DCT tier (a byte-gram hash would see disjoint byte streams)
    assert(pairs.get((1L, 2L)).contains(0), s"missing image pair: $pairs")
    // near-identical text pair via the gram tier
    assert(pairs.contains((4L, 5L)), s"missing text pair: $pairs")
    // the inverted image matches nothing; modalities never cross
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.keySet.exists(p =>
      (p._1 <= 3L && p._2 >= 4L) || (p._1 >= 4L && p._2 <= 3L)),
      s"image/text cross pair: $pairs")
  }

  test("audio VAD: adaptive floor splits loud/quiet windows, islands find the longest run") {
    import spark.implicits._
    // "loud" = spaces (sample −96, energy 9216/byte after the −128
    // centering), "quiet" = 'x' (sample −8, energy 64/byte); windows
    // are 256 bytes
    val loud = " " * 256; val quiet = "x" * 256
    val docs = Seq(
      (1L, loud + quiet),                   // one loud, one quiet window
      (2L, loud + loud + quiet + loud),     // runs of 2 and 1
      (3L, loud + "x" * 100))               // ragged quiet tail (zero-padded)
    .toDF("doc_id", "text")
    val out = operators.Multimodal.vadOver(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def fields(r: org.apache.spark.sql.Row) =
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(5))
    // doc 1: the loud window is the only one at/above the mean
    assert(fields(out(1L)) == ((2L, 1L, 0.5, 1L)), s"doc1: ${out(1L)}")
    // doc 2: voiced pattern T,T,F,T — longest run is 2, not 3
    assert(fields(out(2L)) == ((4L, 3L, 0.75, 2L)), s"doc2: ${out(2L)}")
    // doc 3: ragged tail normalizes over the FIXED window (zero-pad),
    // so the partial quiet window stays below the floor
    assert(fields(out(3L)) == ((2L, 1L, 0.5, 1L)), s"doc3: ${out(3L)}")
    // mean energy is the exact integer ratio: doc1 = (256·9216 + 256·64)/(2·256)
    assert(out(1L).getDouble(4) == (9216.0 + 64.0) / 2, s"doc1 energy: ${out(1L)}")
  }

  test("audio SNR: integer signal/noise split, keep verdict, no-noise edge") {
    import spark.implicits._
    val loud = " " * 256; val quiet = "x" * 256  // 9216/byte vs 64/byte
    val docs = Seq(
      (1L, loud + quiet),          // signal 256·9216, noise 256·64 — snr 144, keep
      (2L, loud + quiet * 3),      // signal 256·9216, noise 3·256·64 — snr 48, keep
      (3L, loud),                  // single window: all voiced, noise unmeasured — keep
      (4L, quiet + " " * 32 + "x" * 224)) // weak signal vs loud-ish noise
    .toDF("doc_id", "text")
    val out = operators.Multimodal.snrOver(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getBoolean(5)))
      .toMap
    assert(out(1L) == ((2L, 256L * 9216, 256L * 64, Some(144.0), true)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((4L, 256L * 9216, 3 * 256L * 64, Some(48.0), true)), s"doc2: ${out(2L)}")
    // all-voiced: noise 0 → snr NULL (unmeasured — 0.0 would rank the
    // cleanest recording with the worst), kept (absence of evidence)
    assert(out(3L) == ((1L, 256L * 9216, 0L, None, true)), s"doc3: ${out(3L)}")
    // doc 4: window energies 256·64 = 16384 and 32·9216 + 224·64 = 309248;
    // only the second is ≥ the mean → signal 309248, noise 16384,
    // snr = 18.875 ≥ 2 → still kept (the verdict is the ratio, pinned
    // here to document the cross-multiplied integer decision)
    assert(out(4L) == ((2L, 309248L, 16384L, Some(round6d(309248.0 / 16384.0)), true)),
      s"doc4: ${out(4L)}")
    // keep_audio is exactly the integer cross-multiplication everywhere
    out.values.foreach { case (_, s, n, _, keep) =>
      assert(keep == (n == 0L || s >= 2L * n))
    }
  }

  private def round6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  test("image stats: flat payloads flagged at the 90% integer boundary, empty drops out") {
    import spark.implicits._
    // 'a' = 97 -> bucket 6; 'z' = 122 -> bucket 7; ' ' = 32 -> bucket 2
    val docs = Seq(
      (1L, "a" * 100),              // one bucket: share 1.0, flat
      (2L, "a" * 90 + "z" * 10),    // exactly 90%: >= makes it flat
      (3L, "a" * 89 + "z" * 11),    // 89%: below the boundary
      (4L, "az AZ 09 xy"),          // spread payload
      (5L, ""))                     // empty: no occupied buckets
    .toDF("doc_id", "text")
    val out = operators.Multimodal.imageStatsOver(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4),
          r.getDouble(5), r.getBoolean(6))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), s"empty doc not dropped: ${out.keySet}")
    assert(out(1L) == ((100L, 1L, 6, 100L, 1.0, true)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((100L, 2L, 6, 90L, 0.9, true)), s"doc2: ${out(2L)}")
    assert(out(3L) == ((100L, 2L, 6, 89L, 0.89, false)), s"doc3: ${out(3L)}")
    assert(!out(4L)._6 && out(4L)._2 >= 4, s"doc4: ${out(4L)}")
    // the verdict is exactly the integer cross-multiplication
    out.values.foreach { case (n, _, _, top, _, flat) =>
      assert(flat == (top * 100L >= 90L * n))
    }
  }

  test("byte_histogram: codegen and interpreted paths agree; empty and null covered") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a" * 3 + "z")), (2L, Some("")), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        graft.plans.ByteHistogram.byte_histogram(col("text").cast("binary"), 16).as("h"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    val expect1 = Seq.tabulate(16)(b => if (b == 6) 3L else if (b == 7) 1L else 0L)
    assert(out(1L) == expect1, s"codegen: ${out(1L)}")
    assert(out(2L) == Seq.fill(16)(0L))
    assert(out(3L) == null)
    // interpreted eval agrees with codegen
    val expr = graft.plans.ByteHistogram(
      org.apache.spark.sql.catalyst.expressions.Literal(("a" * 3 + "z").getBytes("UTF-8")), 16)
    val interp = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray.toSeq
    assert(interp == expect1, s"interpreted: $interp")
    // SQL-extensions surface resolves it too
    val viaSql = spark.sql(
      "SELECT byte_histogram(CAST('aaz' AS BINARY), 16)").head.getSeq[Long](0)
    assert(viaSql(6) == 2L && viaSql(7) == 1L)
  }

  test("audio VAD: an empty payload yields zero frame rows (generate_series parity)") {
    import spark.implicits._
    // Spark's sequence(0, -1) is a DESCENDING [0, -1]; DuckDB's
    // generate_series(0, -1) is empty. frame_energies returns an
    // empty array for an empty payload, so the doc drops out of the
    // exploded stream in BOTH engines.
    val docs = Seq((1L, ""), (2L, " " * 256)).toDF("doc_id", "text")
    val out = operators.Multimodal.vadOver(docs).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L), out.mkString(";"))
  }

  test("frame_energies: codegen and interpreted paths agree; tail, empty, null covered") {
    import spark.implicits._
    // ' ' = 32 -> (32-128)² = 9216 per byte; 'x' = 120 -> 64 per byte
    val df = Seq(
      (1L, Some(" " * 256 + "x" * 100)), // full window + ragged tail
      (2L, Some("")),                    // empty payload -> empty array
      (3L, Option.empty[String]))        // null payload -> null
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        graft.plans.FrameEnergies.frame_energies(col("text").cast("binary"), 256).as("e"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(out(1L) == Seq(256L * 9216, 100L * 64), s"codegen: ${out(1L)}")
    assert(out(2L) == Seq())
    assert(out(3L) == null)
    // interpreted eval (constant folding / no-codegen fallback) agrees
    val expr = graft.plans.FrameEnergies(
      org.apache.spark.sql.catalyst.expressions.Literal(
        (" " * 256 + "x" * 100).getBytes("UTF-8")), 256)
    assert(expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
      .toLongArray().toSeq == Seq(256L * 9216, 100L * 64))
  }

  test("image_meta of a NULL payload is a struct of nulls in both eval paths") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[Array[Byte]])).toDF("doc_id", "payload")
      .select(graft.plans.ImageMeta.image_meta(col("payload")).as("m"))
    // codegen'd projection path
    val row = df.select(col("m").isNull.as("struct_null"), col("m.format")).head
    assert(!row.getBoolean(0), "struct itself must be non-null (nullable=false)")
    assert(row.isNullAt(1))
    // interpreted path (constant folding / no-codegen fallback) must agree
    val expr = graft.plans.ImageMeta(
      org.apache.spark.sql.catalyst.expressions.Literal(null,
        org.apache.spark.sql.types.BinaryType))
    assert(expr.eval(null) != null, "interpreted eval must return the struct-of-nulls")
  }

  test("feature extraction routes image payloads through the decoder") {
    val (img, luma) = testImage(31, 7)
    val png = encode(img, "png")
    val fr = operators.Multimodal.featureOf(42L, png)
    assert(fr.kind == "image/png")
    assert(fr.byte_len == png.length)
    assert(fr.n_space == luma.count(_ < 64), "dark-pixel count")
    assert(fr.n_vowel == luma.count(_ > 192), "bright-pixel count")
    val txt = operators.Multimodal.featureOf(7L, "a b c".getBytes("UTF-8"))
    assert(txt.kind == "raw" && txt.n_space == 2 && txt.n_vowel == 1)
  }

  test("mm_frame_sample covers every payload byte exactly once") {
    val frames = Registry.queries("mm_frame_sample")(spark, sf)
    val byDoc = frames.groupBy("doc_id")
      .agg(sum("frame_bytes").as("bytes"), count(lit(1)).as("n_frames"),
        max("frame_idx").as("max_idx"))
    val joined = byDoc.join(
      Tables.documents(spark, sf).select(col("doc_id"), length(col("text")).as("len")),
      "doc_id")
    // frames tile the payload: total bytes = payload length, indices dense
    assert(joined.filter(col("bytes") =!= col("len")).count() == 0)
    assert(joined.filter(col("max_idx") =!= col("n_frames") - 1).count() == 0)
  }

  test("mm_dedup partitions the corpus: copies sum to the doc count") {
    val total = Tables.documents(spark, sf).count()
    val dedup = Registry.queries("mm_dedup")(spark, sf)
    val sums = dedup.agg(sum("n_copies")).head.getLong(0)
    assert(sums == total)
    // keep_doc_id is a member of its own group (min) — spot-checkable
    // via mm_meta: every keep id carries the digest it groups
    val meta = Registry.queries("mm_meta")(spark, sf)
      .select(col("doc_id").as("keep_doc_id"), col("sha256").as("content_sha256"))
    assert(dedup.join(meta, Seq("keep_doc_id", "content_sha256"), "left_anti").count() == 0)
  }
}
