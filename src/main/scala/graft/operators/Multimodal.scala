package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Op, Tables}
import graft.functions.{round6, round6Sql}

/** Multimodal-column plumbing: media payloads as opaque `binary`
  * columns with typed metadata, processed by narrow per-row transforms.
  *
  * The decode tier is REAL for the formats the JDK's pure-Java
  * `javax.imageio` readers cover (PNG/BMP/GIF — `plans.ImageDecode`,
  * exercised on synthesized images in MultimodalSpec): every payload
  * passes through the decode probe, and payloads no reader claims
  * (like the documents corpus's text bytes) flow to the deterministic
  * fallback — the raw byte stream (all test text is ASCII, so byte and
  * char offsets agree, asserted in MultimodalSpec). Audio/video codecs
  * aren't in the container, so frame extraction stays byte-stride on
  * the payload. Everything around the decode is real Spark plumbing:
  * binary schema, per-row digests, fixed-stride frame sampling via a
  * generator expression (explode of a computed index range — no UDF,
  * no shuffle), and partition-friendly output.
  */
object Multimodal {

  private val FrameBytes = 256

  /** payload as a true BinaryType column. */
  private def payload: Column = col("text").cast(BinaryType)

  /** Frame indices [0, nFrames) — EMPTY when nFrames = 0. Spark's
    * sequence(0, -1) yields a DESCENDING [0, -1] (two spurious
    * frames) where DuckDB's generate_series(0, -1) is empty; guarding
    * here keeps empty payloads engine-parity (zero frame rows, the
    * doc drops out of the exploded stream). */
  private def frameIdxSeq(nFrames: Column): Column =
    when(nFrames > 0, sequence(lit(0), nFrames - 1))
      .otherwise(array().cast("array<int>"))

  // --- mm_meta: typed metadata over opaque binary ----------------------

  private def mmMeta(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("payload", payload)
      // the real decode probe runs on EVERY payload (javax.imageio
      // readers; plans.ImageDecode) — the documents corpus carries no
      // image bytes, so these land NULL here, and MultimodalSpec
      // proves the same probe fills them for synthesized PNG/BMP/GIF
      .withColumn("img", graft.plans.ImageMeta.image_meta(col("payload")))
      .select(
        col("doc_id"),
        length(col("payload")).as("byte_len"),
        sha2(col("payload"), 256).as("sha256"),
        md5(col("payload")).as("md5"),
        // mime tag from the source system (deterministic fake routing)
        concat(lit("application/x-graft-"), col("source")).as("mime"),
        ceil(length(col("payload")).cast(DoubleType) / FrameBytes).cast(IntegerType).as("n_frames"),
        col("img.format").as("decoded_format"),
        col("img.width").as("decoded_width"),
        col("img.height").as("decoded_height"))
      .orderBy("doc_id")
  }

  // DuckDB 1.0 lacks BLOB digests; text is ASCII so the string digests
  // equal the payload digests (same UTF-8 bytes). The decode-probe
  // columns are NULL on this corpus (no image payloads) — the oracle
  // pins exactly that.
  private val mmMetaSql =
    s"""SELECT doc_id,
       |       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
       |       sha256(text) AS sha256,
       |       md5(text) AS md5,
       |       'application/x-graft-' || source AS mime,
       |       CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / $FrameBytes) AS INTEGER) AS n_frames,
       |       CAST(NULL AS VARCHAR) AS decoded_format,
       |       CAST(NULL AS INTEGER) AS decoded_width,
       |       CAST(NULL AS INTEGER) AS decoded_height
       |FROM documents ORDER BY doc_id""".stripMargin

  // --- mm_frame_sample: fixed-stride frame extraction ------------------
  // One generator expression per row: explode(sequence(0, n_frames-1))
  // then slice the binary at byte offsets. Narrow, codegen'd, and the
  // shape a real video/audio frame sampler would take (frame index +
  // per-frame payload digest + byte span).

  private def mmFrameSample(s: SparkSession, dir: String): DataFrame = {
    val nFrames = ceil(length(payload).cast(DoubleType) / FrameBytes).cast(IntegerType)
    Tables.documents(s, dir)
      .withColumn("payload", payload)
      .withColumn("frame_idx", explode(frameIdxSeq(nFrames)))
      .select(
        col("doc_id"), col("frame_idx"),
        length(col("payload").substr(col("frame_idx") * FrameBytes + 1, lit(FrameBytes))).as("frame_bytes"),
        md5(col("payload").substr(col("frame_idx") * FrameBytes + 1, lit(FrameBytes))).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")
  }

  private val mmFrameSampleSql =
    s"""SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       |       CAST(octet_length(encode(substr(text, CAST(i AS INTEGER) * $FrameBytes + 1, $FrameBytes))) AS INTEGER) AS frame_bytes,
       |       md5(substr(text, CAST(i AS INTEGER) * $FrameBytes + 1, $FrameBytes)) AS frame_md5
       |FROM (SELECT doc_id, text,
       |        unnest(generate_series(0,
       |          CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / $FrameBytes) AS BIGINT) - 1)) AS i
       |      FROM documents)
       |ORDER BY doc_id, frame_idx""".stripMargin

  // --- mm_resize: thumbnailing with modality routing -------------------
  // The resize every multimodal ingest runs before anything shuffles:
  // decodable payloads get the REAL tier — javax.imageio decode +
  // integer-region area-average resample of the luminance plane to
  // 8×8 (plans.ImageResize, codegen'd; the same deterministic resample
  // pHash uses for its 32×32 stage) — and everything else routes to a
  // deterministic byte-stride thumbnail (64 stride-sampled positions),
  // exactly the two-tier frame mm_phash_neardup established. Output
  // carries thumbnail digests and dimensions, never payloads: run this
  // early and every downstream shuffle moves ~64-byte thumbnails
  // instead of media. The documents corpus has no image bytes, so the
  // registry rows all take the fallback (the oracle pins that, like
  // mm_meta's NULL decode columns); MultimodalSpec pins the real tier
  // on synthesized PNGs against the hand-computed area averages.

  private val ThumbW = 8
  private val ThumbH = 8
  private val ThumbLen = 64

  private def mmResize(s: SparkSession, dir: String): DataFrame = {
    // stride sampling in integer arithmetic (i·len div 64), portable
    // to the oracle's // division; ASCII corpus ⇒ char == byte offsets
    val strideThumb = expr(
      s"array_join(transform(sequence(0, ${ThumbLen - 1}), " +
        s"i -> substr(text, CAST(i * length(text) div $ThumbLen AS INT) + 1, 1)), '')")
    Tables.documents(s, dir)
      .withColumn("payload", payload)
      .withColumn("resized",
        graft.plans.ImageResizeFn.image_resize(col("payload"), lit(ThumbW), lit(ThumbH)))
      .withColumn("thumb", strideThumb)
      .select(
        col("doc_id"),
        length(col("payload")).as("orig_bytes"),
        col("resized").isNotNull.as("is_image"),
        when(col("resized").isNotNull, lit(ThumbW)).cast(IntegerType).as("thumb_w"),
        when(col("resized").isNotNull, lit(ThumbH)).cast(IntegerType).as("thumb_h"),
        when(col("resized").isNotNull, lit("luma_resample"))
          .otherwise(lit("byte_stride")).as("method"),
        when(col("resized").isNotNull, lit(ThumbLen))
          .otherwise(length(col("thumb"))).cast(IntegerType).as("thumb_len"),
        when(col("resized").isNotNull, md5(col("resized")))
          .otherwise(md5(col("thumb"))).as("thumb_md5"))
      .orderBy("doc_id")
  }

  private val mmResizeSql =
    s"""SELECT doc_id,
       |       CAST(octet_length(encode(text)) AS INTEGER) AS orig_bytes,
       |       FALSE AS is_image,
       |       CAST(NULL AS INTEGER) AS thumb_w,
       |       CAST(NULL AS INTEGER) AS thumb_h,
       |       'byte_stride' AS method,
       |       CAST(length(thumb) AS INTEGER) AS thumb_len,
       |       md5(thumb) AS thumb_md5
       |FROM (
       |  SELECT doc_id, text,
       |         array_to_string(list_transform(generate_series(0, ${ThumbLen - 1}),
       |           i -> substr(text, CAST(i * length(text) // $ThumbLen AS INTEGER) + 1, 1)), '') AS thumb
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  // --- mm_dedup: content-digest dedup of media payloads ----------------
  // The exact-dedup every multimodal pipeline runs first: group the
  // opaque binary by its sha256, keep the lowest id. One hash groupBy —
  // at 100 TB of media the shuffle carries (digest, id, length), never
  // the payloads themselves.

  private def mmDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("payload", payload)
      .groupBy(sha2(col("payload"), 256).as("content_sha256"))
      .agg(min("doc_id").as("keep_doc_id"),
        count(lit(1)).as("n_copies"),
        sum(length(col("payload")).cast(LongType)).as("total_bytes"))
      .orderBy("keep_doc_id")

  private val mmDedupSql =
    """SELECT sha256(text) AS content_sha256,
      |       min(doc_id) AS keep_doc_id, count(*) AS n_copies,
      |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
      |FROM documents GROUP BY 1 ORDER BY keep_doc_id""".stripMargin

  // --- mm_feature_extract: batched per-payload feature extraction ------
  // The decode/feature-extract stage of a media pipeline in its real
  // execution shape: a partition-batched iterator transform (Spark's
  // Scala analog of the mapInPandas batch contract — each task
  // receives an iterator of rows, loops imperatively over raw payload
  // bytes, and emits typed feature rows). This is extension tier (d),
  // used because per-byte feature loops genuinely aren't expressible
  // as Catalyst expressions. The *decoder* is the documented stub
  // (payload = UTF-8 text bytes); the byte-loop feature math, typed
  // Encoders, batch iteration, and narrow no-shuffle placement are the
  // real plumbing a codec-backed extractor would drop into.

  // public: Encoder codegen instantiates these from generated classes
  case class PayloadRow(doc_id: Long, payload: Array[Byte])
  case class FeatureRow(doc_id: Long, kind: String, byte_len: Int,
      n_space: Int, n_vowel: Int, space_density: Double)

  /** Per-payload feature extraction, decode-aware: image payloads
    * (javax.imageio) get the byte-stream features over the decoded
    * luminance plane (n_space → dark pixels < 64, n_vowel → bright
    * pixels > 192); everything else over the raw bytes — the fallback
    * contract. Exercised on synthesized PNG/BMP in MultimodalSpec. */
  private[graft] def featureOf(docId: Long, pl: Array[Byte]): FeatureRow =
    graft.plans.ImageDecode.decode(pl) match {
      case Some(d) =>
        var dark = 0; var bright = 0; var i = 0
        while (i < d.luma.length) {
          val v = d.luma(i) & 0xff
          if (v < 64) dark += 1
          else if (v > 192) bright += 1
          i += 1
        }
        val density =
          if (d.luma.length == 0) 0.0
          else math.floor(dark.toDouble / d.luma.length * 1e6 + 0.5) / 1e6
        FeatureRow(docId, "image/" + d.format, pl.length, dark, bright, density)
      case None =>
        var spaces = 0; var vowels = 0; var i = 0
        while (i < pl.length) {
          val b = pl(i)
          if (b == ' '.toByte) spaces += 1
          else if (b == 'a' || b == 'e' || b == 'i' || b == 'o' || b == 'u') vowels += 1
          i += 1
        }
        val density =
          math.floor(spaces.toDouble / pl.length * 1e6 + 0.5) / 1e6
        FeatureRow(docId, "raw", pl.length, spaces, vowels, density)
    }

  private def mmFeatureExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), payload.as("payload"))
      .as[PayloadRow]
      .mapPartitions(batch => batch.map(r => featureOf(r.doc_id, r.payload)))
      .toDF()
      .orderBy("doc_id")
  }

  private val mmFeatureExtractSql =
    """SELECT doc_id,
      |       'raw' AS kind,
      |       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
      |       CAST(length(text) - length(replace(text, ' ', '')) AS INTEGER) AS n_space,
      |       CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS INTEGER) AS n_vowel,
      |       floor(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
      |             / octet_length(encode(text)) * 1e6 + 0.5) / 1e6 AS space_density
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- mm_scene_cut: temporal change detection over the frame stream ---
  // Shot/scene-boundary detection in its Spark execution shape: the
  // fixed-stride frame stream (the mm_frame_sample generator), a cheap
  // per-frame feature, and a lag comparison per payload — flag frames
  // whose feature jumps more than a threshold from the previous frame.
  // The feature here is the frame's mean byte value (the stub standing
  // in for a codec histogram/SSIM; deterministic and byte-exact in the
  // oracle via ASCII codepoints). Everything is narrow + one bounded
  // per-payload window (frames per payload, never corpus-wide).

  private val SceneCutJump = 2.0

  private def mmSceneCut(s: SparkSession, dir: String): DataFrame = {
    val nFrames = ceil(length(payload).cast(DoubleType) / FrameBytes).cast(IntegerType)
    val frame = col("payload").substr(col("frame_idx") * FrameBytes + 1, lit(FrameBytes))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    val frames = Tables.documents(s, dir)
      .withColumn("payload", payload)
      .withColumn("frame_idx", explode(frameIdxSeq(nFrames)))
      .select(col("doc_id"), col("frame_idx"),
        // mean byte value via the aggregate of the unpacked frame: an
        // exact integer sum over ≤256 bytes, divided as double
        (aggregate(transform(split(frame.cast(StringType), ""),
            c => when(length(c) > 0, ascii(c)).otherwise(lit(0))),
          lit(0L), (acc, x) => acc + x).cast(DoubleType)
          / length(frame).cast(DoubleType)).as("mean_byte"))
    frames
      .withColumn("prev_mean", lag("mean_byte", 1).over(w))
      .filter(col("prev_mean").isNotNull &&
        abs(col("mean_byte") - col("prev_mean")) > SceneCutJump)
      .select(col("doc_id"), col("frame_idx"),
        round6(col("mean_byte")).as("mean_byte"),
        round6(col("mean_byte") - col("prev_mean")).as("jump"))
      .orderBy("doc_id", "frame_idx")
  }

  private val mmSceneCutSql =
    s"""WITH frames AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       |         substr(text, CAST(i AS INTEGER) * $FrameBytes + 1, $FrameBytes) AS frame
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(0,
       |            CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / $FrameBytes) AS BIGINT) - 1)) AS i
       |        FROM documents)),
       |feats AS (
       |  SELECT doc_id, frame_idx,
       |         CAST(list_sum(list_transform(range(1, length(frame) + 1),
       |                j -> ascii(substr(frame, CAST(j AS INTEGER), 1)))) AS DOUBLE)
       |           / length(frame) AS mean_byte
       |  FROM frames),
       |lagged AS (
       |  SELECT doc_id, frame_idx, mean_byte,
       |         lag(mean_byte) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev_mean
       |  FROM feats)
       |SELECT doc_id, frame_idx, ${round6Sql("mean_byte")} AS mean_byte,
       |       ${round6Sql("mean_byte - prev_mean")} AS jump
       |FROM lagged
       |WHERE prev_mean IS NOT NULL AND abs(mean_byte - prev_mean) > $SceneCutJump
       |ORDER BY doc_id, frame_idx""".stripMargin

  // --- mm_phash_neardup: perceptual-hash-style media near-dup ----------
  // The fuzzy complement of mm_dedup: a 64-bit locality-sensitive
  // signature per payload (SimHash over sliding 4-byte grams of the
  // binary — the stand-in for a real pHash's DCT-sign bits, which
  // needs a codec; the signature/banding/pair contract is identical),
  // then candidate pairs only within 16-bit chunk buckets (pigeonhole:
  // hamming ≤ 3 fully recalled, partial recall above — the standard
  // banded-phash tradeoff), reported at hamming ≤ 10. Reuses the
  // dedup_simhash machinery verbatim — the gram stream is the only
  // modality-specific piece. At 100 TB the shuffle carries 64-bit
  // signatures, never payloads. Like r31's bucket count, the band
  // structure is a parameter sized to the corpus: candidate volume
  // within a chunk bucket is ~n²/2^chunkBits, so the registry entry
  // derives the width from the document count (Dedup.chunkBitsFor —
  // 4×16-bit while docs fit them, 2×32-bit above; multi-index hamming
  // sizing) and the oracle's `wp` CTE replays the derivation. The
  // recall semantics move with the width by design: pigeonhole
  // guarantees hamming ≤ 3 at 4 bands, hamming ≤ 1 at 2.

  private val PhashHamming = 10

  /** pHash near-dup at an explicit chunk width — the registry entry
    * derives the width from the corpus ([[Dedup.chunkBitsFor]]:
    * 4×16-bit bands while docs ≤ 2¹⁴, 2×32-bit above — candidates
    * ~n²/2^chunkBits per band; the multi-index hamming sizing rule),
    * replayed by the oracle's `wp` CTE. ScaleProbe's
    * `mm_phash_neardup@bandsPropN` row pins the fixed-vs-derived
    * contrast.
    *
    * Two modality tiers feed ONE signature frame (doc_id, sim_lo,
    * sim_hi): payloads an imageio reader claims get the REAL pHash —
    * DCT-sign bits over decoded luminance ([[graft.plans.ImagePhash]];
    * PNG/BMP/GIF/JPEG) — and everything else gets SimHash over sliding
    * 4-byte grams of the raw bytes. Both are 64-bit
    * hamming-comparable signatures, so banding, candidate join and the
    * hamming gate downstream are modality-blind; image/text pairs
    * never collide semantically because a DCT signature and a byte
    * SimHash agreeing on a 16-bit band is pure chance, thinned by the
    * same ≤ [[PhashHamming]] verification every candidate passes. The
    * documents corpus carries no image bytes, so the oracle replays
    * the gram tier only (MultimodalSpec pins the DCT tier on
    * synthesized images). */
  def phashNeardupAt(s: SparkSession, dir: String, chunkBits: Int): DataFrame =
    phashPairsOf(Tables.documents(s, dir).withColumn("payload", payload), chunkBits)

  /** The two-tier signature pipeline over any (doc_id, payload: binary)
    * frame — split out so MultimodalSpec can drive real image payloads
    * through the SAME code path the registry entry runs (the documents
    * corpus's `text` column can't carry arbitrary image bytes). */
  private[graft] def phashPairsOf(docsIn: DataFrame, chunkBits: Int,
      materialize: DataFrame => DataFrame = graft.functions.memoize): DataFrame =
    Dedup.simhashChunkPairs(phashSigsOf(docsIn), chunkBits, materialize)
      .filter(col("hamming") <= PhashHamming)
      .orderBy("id_a", "id_b")

  /** The two-tier 64-bit signature frame (doc_id, sim_lo, sim_hi) —
    * the build stage of [[phashPairsOf]], split out from the banded
    * self-join. */
  private[graft] def phashSigsOf(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .withColumn("psig", graft.plans.ImagePhashFn.image_phash(col("payload")))
    val imgSigs = docs.filter(col("psig").isNotNull)
      .select(col("doc_id"),
        col("psig").bitwiseAND(lit(0xFFFFFFFFL)).as("sim_lo"),
        shiftrightunsigned(col("psig"), 32).as("sim_hi"))
    val grams = docs.filter(col("psig").isNull)
      .withColumn("i", explode(
        when(length(col("payload")) >= 4, sequence(lit(1), length(col("payload")) - 3))
          .otherwise(array().cast(ArrayType(IntegerType)))))
      .select(col("doc_id"), col("payload").substr(col("i"), lit(4)).as("gram"))
    Dedup.simhashHalves(grams).unionByName(imgSigs)
  }

  /** Documents cardinality via the shared ANALYZE ledger
    * ([[graft.etl.TableStats]] — snapshotted at first use per
    * application; `TableStats.invalidate(dir)` re-ANALYZEs a
    * regenerated lake). */
  private def docCount(s: SparkSession, dir: String): Long =
    graft.etl.TableStats.rowCount(s, s"$dir#documents")(
      Tables.documents(s, dir).count())

  private def mmPhashNeardup(s: SparkSession, dir: String): DataFrame =
    phashNeardupAt(s, dir, Dedup.chunkBitsFor(docCount(s, dir)))

  private val mmPhashNeardupSql =
    s"""WITH grams AS (
       |  SELECT doc_id, substr(text, CAST(i AS INTEGER), 4) AS gram
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(1, octet_length(encode(text)) - 3)) AS i
       |        FROM documents)),
       |${Dedup.simhashSigCtes},
       |${Dedup.simhashChunkCtesDerived("documents")}
       |SELECT * FROM (
       |${Dedup.simhashPairSelectSql}
       |) WHERE hamming <= $PhashHamming
       |ORDER BY id_a, id_b""".stripMargin

  // --- mm_audio_vad: energy voice-activity detection ------------------
  // The audio leg of the modality triangle (images: meta/resize/phash;
  // video: frame_sample/scene_cut; audio: this). Energy VAD is the
  // classic codec-free baseline and its Spark execution shape is what
  // matters at 100 TB: payload → fixed-stride sample windows (the
  // shared frame generator — for real PCM the window is a sample
  // count, here FrameBytes of the byte stream), per-window RMS energy
  // over CENTERED samples (byte − 128, the unsigned-PCM convention),
  // an ADAPTIVE noise floor (voiced ⇔ rms ≥ the payload's own mean
  // rms — absolute thresholds break across recording gains), and
  // voiced-segment run lengths via the islands trick (frame_idx −
  // row_number, the same shape dedup_substring_spans uses). Everything
  // narrow until per-payload aggregates; shuffles carry frame stats,
  // never payloads.
  //
  // Windows are FIXED-width (zero-padded tail — the padding convention
  // real frame pipelines use), which makes the whole decision integer:
  // per-window energy is the exact Σs² sum, and the adaptive threshold
  // e_f ≥ mean(e) cross-multiplies to Σs²(f) · n_frames ≥ Σ_doc Σs² —
  // no floating point anywhere in the voiced flag. (The first cut
  // compared per-frame rms against a DECIMAL(38,12)-reduced mean of
  // sqrt values and hit the one non-portable edge in the repo's
  // conventions: double→decimal casts round shortest-STRING in Spark
  // but exact-binary in DuckDB, and a single-frame doc's rms landed a
  // half-ulp apart. Integer cross-multiplication removes the cast.)
  // The reported mean_energy is exact-integer / exact-integer in IEEE
  // double; MultimodalSpec pins loud/quiet segmentation and the
  // longest-run semantics on synthesized payloads.

  /** VAD over any (doc_id, text-as-payload) frame — the registry entry
    * binds the documents corpus; MultimodalSpec feeds synthesized
    * loud/quiet payloads. The per-frame energy is the codegen'd
    * [[graft.plans.FrameEnergies]] primitive-loop Expression (one pass
    * over the payload inside WholeStageCodegen); its `posexplode` IS
    * the frame stream, so the empty-payload guard is structural. */
  /** The shared voiced-frame stream: per-frame exact integer energy
    * ([[graft.plans.FrameEnergies]]) + the cross-multiplied adaptive
    * floor flag — one derivation for the VAD segmentation op and the
    * SNR screen, so their voiced decisions cannot drift. */
  private[graft] def voicedFrames(docs: DataFrame): DataFrame = {
    // multi-consumer stream (noise-floor agg + voiced flags): memoize
    // per the repo's AQE non-reuse convention
    val frames = docs
      .select(col("doc_id"), posexplode(
          graft.plans.FrameEnergies.frame_energies(payload, FrameBytes))
        .as(Seq("frame_idx", "num")))
      .transform(graft.functions.memoize)
    val dm = frames.groupBy("doc_id").agg(
      count(lit(1)).as("n_frames"), sum(col("num")).as("tot"))
    frames.join(broadcast(dm), "doc_id")
      .withColumn("voiced", col("num") * col("n_frames") >= col("tot"))
  }

  private[graft] def vadOver(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    val flagged = voicedFrames(docs)
    val runs = flagged.filter(col("voiced"))
      .withColumn("grp", col("frame_idx") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run"))
      .groupBy("doc_id").agg(max(col("run")).as("longest_run"))
    flagged.groupBy("doc_id").agg(
        max(col("n_frames")).as("n_frames"),
        sum(when(col("voiced"), 1L).otherwise(0L)).as("voiced_frames"),
        max(col("tot")).as("tot"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"), col("voiced_frames"),
        round6(col("voiced_frames").cast(DoubleType) / col("n_frames")).as("voiced_ratio"),
        round6(col("tot").cast(DoubleType)
          / (col("n_frames") * FrameBytes)).as("mean_energy"),
        coalesce(col("longest_run"), lit(0L)).as("longest_voiced_run"))
      .orderBy("doc_id")
  }

  private def mmAudioVad(s: SparkSession, dir: String): DataFrame =
    vadOver(Tables.documents(s, dir))

  /** The shared oracle prefix (frames → per-frame integer energies →
    * per-doc totals → voiced flags) — one CTE block for the VAD and
    * SNR oracles, mirroring [[voicedFrames]]. */
  private val vadCoreCtes =
    s"""frames AS MATERIALIZED (
       |  SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       |         substr(text, CAST(i AS INTEGER) * $FrameBytes + 1, $FrameBytes) AS frame
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(0,
       |            CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / $FrameBytes) AS BIGINT) - 1)) AS i
       |        FROM documents)),
       |feats AS MATERIALIZED (
       |  SELECT doc_id, frame_idx,
       |         CAST(list_sum(list_transform(range(1, length(frame) + 1),
       |                j -> CAST(ascii(substr(frame, CAST(j AS INTEGER), 1)) - 128 AS BIGINT)
       |                     * (ascii(substr(frame, CAST(j AS INTEGER), 1)) - 128))) AS BIGINT) AS num
       |  FROM frames),
       |dm AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS n_frames, CAST(sum(num) AS BIGINT) AS tot
       |  FROM feats GROUP BY doc_id),
       |fl AS MATERIALIZED (
       |  SELECT f.doc_id, f.frame_idx, f.num, d.tot, d.n_frames,
       |         f.num * d.n_frames >= d.tot AS voiced
       |  FROM feats f JOIN dm d ON d.doc_id = f.doc_id)""".stripMargin

  private val mmAudioVadSql =
    s"""WITH $vadCoreCtes,
       |runs AS (
       |  SELECT doc_id, max(run) AS longest_run FROM (
       |    SELECT doc_id, grp, count(*) AS run FROM (
       |      SELECT doc_id, frame_idx,
       |             frame_idx - row_number() OVER (PARTITION BY doc_id ORDER BY frame_idx) AS grp
       |      FROM fl WHERE voiced)
       |    GROUP BY doc_id, grp)
       |  GROUP BY doc_id),
       |vc AS (
       |  SELECT doc_id, CAST(count(*) FILTER (WHERE voiced) AS BIGINT) AS voiced_frames
       |  FROM fl GROUP BY doc_id)
       |SELECT d.doc_id, d.n_frames, v.voiced_frames,
       |       ${round6Sql("CAST(v.voiced_frames AS DOUBLE) / d.n_frames")} AS voiced_ratio,
       |       ${round6Sql(s"CAST(d.tot AS DOUBLE) / (d.n_frames * $FrameBytes)")} AS mean_energy,
       |       COALESCE(r.longest_run, 0) AS longest_voiced_run
       |FROM dm d JOIN vc v USING (doc_id) LEFT JOIN runs r USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // --- mm_audio_snr: signal-to-noise screen over the voiced split -----
  // The audio QUALITY gate (VAD answers "where is speech"; this answers
  // "is the recording worth keeping"): signal = Σ energy over voiced
  // frames, noise = Σ energy over unvoiced frames — both exact
  // integers off the SAME shared voiced-frame derivation as the VAD op
  // (one definition, the decisions cannot drift) — and the keep
  // verdict is the pure-integer cross-multiplication signal ≥
  // [[SnrKeepRatio]] · noise (an all-voiced payload measures no noise
  // ⇒ keep: absence of evidence is not a defect). The reported snr is
  // exact-integer / exact-integer in IEEE double, NULL when noise is
  // unmeasured — a 0.0 there would rank the cleanest recordings with
  // the worst; NULL keeps "no noise observed" distinguishable from
  // "all noise" for any consumer thresholding on the column. Same
  // scale shape as VAD: narrow until per-payload aggregates, shuffles
  // carry frame stats never payloads.

  private val SnrKeepRatio = 2L

  private[graft] def snrOver(docs: DataFrame): DataFrame =
    voicedFrames(docs).groupBy("doc_id").agg(
        max(col("n_frames")).as("n_frames"),
        sum(when(col("voiced"), col("num")).otherwise(0L)).as("signal_energy"),
        sum(when(!col("voiced"), col("num")).otherwise(0L)).as("noise_energy"))
      .select(col("doc_id"), col("n_frames"), col("signal_energy"),
        col("noise_energy"),
        round6(when(col("noise_energy") > 0,
          col("signal_energy").cast(DoubleType) / col("noise_energy").cast(DoubleType))
          .otherwise(lit(null).cast(DoubleType))).as("snr"),
        (col("noise_energy") === 0 ||
          col("signal_energy") >= lit(SnrKeepRatio) * col("noise_energy"))
          .as("keep_audio"))
      .orderBy("doc_id")

  private def mmAudioSnr(s: SparkSession, dir: String): DataFrame =
    snrOver(Tables.documents(s, dir))

  private val mmAudioSnrSql =
    s"""WITH $vadCoreCtes,
       |se AS (
       |  SELECT doc_id, max(n_frames) AS n_frames,
       |         CAST(sum(CASE WHEN voiced THEN num ELSE 0 END) AS BIGINT) AS signal_energy,
       |         CAST(sum(CASE WHEN NOT voiced THEN num ELSE 0 END) AS BIGINT) AS noise_energy
       |  FROM fl GROUP BY doc_id)
       |SELECT doc_id, n_frames, signal_energy, noise_energy,
       |       ${round6Sql("CASE WHEN noise_energy > 0 THEN CAST(signal_energy AS DOUBLE) / CAST(noise_energy AS DOUBLE) ELSE NULL END")} AS snr,
       |       (noise_energy = 0 OR signal_energy >= $SnrKeepRatio * noise_energy) AS keep_audio
       |FROM se ORDER BY doc_id""".stripMargin

  // --- mm_image_stats: byte-distribution QC over opaque payloads ------
  // The image-side quality screen (the audio side is mm_audio_snr):
  // flat/constant payloads — solid-color frames, dead sensors,
  // truncated transfers — concentrate their byte values into one
  // histogram bucket, so bucket occupancy + top-bucket share is the
  // codec-free flatness probe a media pipeline runs before paying for
  // decode. Per-payload histogram via the codegen'd
  // [[graft.plans.ByteHistogram]] (the §5-mandated primitive loop for
  // the one pass touching every byte); only OCCUPIED buckets explode
  // into rows (≤ [[HistBuckets]] per payload), so shuffles carry at
  // most 16 count rows per doc, never bytes. The flat verdict is the
  // pure-integer cross-multiplication top_count·100 ≥ 90·n_bytes;
  // empty payloads drop out structurally (all-zero histogram → no
  // occupied buckets), matching the oracle's empty byte stream.
  // ORACLE PARITY CAVEAT (same class as dedup_editdist's
  // byte/codepoint note): the DuckDB twin buckets via
  // ascii(substr(text, j, 1)) — CODEPOINTS — while ByteHistogram
  // buckets raw UTF-8 BYTES; the two agree exactly on [\x00-\x7F]
  // payloads (the synthetic corpus) and diverge on multi-byte
  // codepoints, where codepoint//16 can even exceed bucket 15. A
  // non-ASCII deployment keeps the Spark semantics (bytes are what a
  // binary payload has) and drops the SQL twin.

  private val HistBuckets = 16
  private val FlatSharePct = 90L

  private[graft] def imageStatsOver(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), posexplode(
        graft.plans.ByteHistogram.byte_histogram(payload, HistBuckets))
      .as(Seq("bucket", "cnt")))
      .filter(col("cnt") > 0)
      .groupBy("doc_id").agg(
        sum(col("cnt")).as("n_bytes"),
        count(lit(1)).as("distinct_buckets"),
        max_by(col("bucket"), struct(col("cnt"), -col("bucket"))).as("top_bucket"),
        max(col("cnt")).as("top_count"))
      .select(col("doc_id"), col("n_bytes"), col("distinct_buckets"),
        col("top_bucket"), col("top_count"),
        round6(col("top_count").cast(DoubleType) / col("n_bytes").cast(DoubleType))
          .as("top_share"),
        (col("top_count") * lit(100L) >= lit(FlatSharePct) * col("n_bytes"))
          .as("is_flat"))
      .orderBy("doc_id")
  }

  private def mmImageStats(s: SparkSession, dir: String): DataFrame =
    imageStatsOver(Tables.documents(s, dir))

  private val mmImageStatsSql =
    s"""WITH bytes AS MATERIALIZED (
       |  SELECT doc_id,
       |         ascii(substr(text, CAST(j AS INTEGER), 1)) // ${256 / HistBuckets} AS bucket
       |  FROM (SELECT doc_id, text,
       |          unnest(range(1, length(text) + 1)) AS j FROM documents)),
       |bc AS MATERIALIZED (
       |  SELECT doc_id, bucket, count(*) AS cnt FROM bytes GROUP BY 1, 2),
       |rk AS (
       |  SELECT doc_id, bucket, cnt,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY cnt DESC, bucket) AS rn
       |  FROM bc),
       |agg AS (
       |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bytes,
       |         count(*) AS distinct_buckets
       |  FROM bc GROUP BY doc_id)
       |SELECT a.doc_id, a.n_bytes, a.distinct_buckets,
       |       CAST(r.bucket AS INTEGER) AS top_bucket,
       |       CAST(r.cnt AS BIGINT) AS top_count,
       |       ${round6Sql("CAST(r.cnt AS DOUBLE) / a.n_bytes")} AS top_share,
       |       (r.cnt * 100 >= $FlatSharePct * a.n_bytes) AS is_flat
       |FROM agg a JOIN rk r ON r.doc_id = a.doc_id AND r.rn = 1
       |ORDER BY a.doc_id""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("mm_meta", mmMeta, Some(mmMetaSql)),
    Op("mm_phash_neardup", mmPhashNeardup, Some(mmPhashNeardupSql)),
    Op("mm_scene_cut", mmSceneCut, Some(mmSceneCutSql)),
    Op("mm_frame_sample", mmFrameSample, Some(mmFrameSampleSql)),
    Op("mm_resize", mmResize, Some(mmResizeSql)),
    Op("mm_dedup", mmDedup, Some(mmDedupSql)),
    Op("mm_audio_vad", mmAudioVad, Some(mmAudioVadSql)),
    Op("mm_audio_snr", mmAudioSnr, Some(mmAudioSnrSql)),
    Op("mm_image_stats", mmImageStats, Some(mmImageStatsSql)),
    Op("mm_feature_extract", mmFeatureExtract, Some(mmFeatureExtractSql)))
}
