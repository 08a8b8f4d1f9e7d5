package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{AudioCodec, FlacCodec, ImageCodec, JpegCodec,
  MultimodalOps, TiffCodec}

/** Round-17b: the lossy tier widens along both axes.
  *
  * IMAGE — the remaining real-world JPEG sampling geometries, formerly
  * rejected by name: 4:2:2 (horizontal-only chroma halving — the
  * broadcast/DV interchange shape) and 4:1:1 (horizontal quartering —
  * legacy NTSC-DV).  Same [[R17Queries.colorSumGauge]] tolerance
  * discipline: per-pixel channel-sum error bounded in-row, oracle
  * replays the invariant.  Measured corpus maxima at quality 90 across
  * sf0.001/0.01/0.1: 4:2:2 → 112, 4:1:1 → 130 (bounds 150 / 176 with
  * the 4:2:0 tier's headroom ratio).
  *
  * AUDIO — the first LOSSY audio codecs behind the [[AudioCodec]] seam
  * (the JPEG discipline applied to sound): G.711 μ-law and A-law
  * companding (ITU-T G.711 segment tables; reconstruction error has the
  * CLOSED-FORM bound 2^(seg+2) ≤ 512 — measured corpus maxima 132 and
  * 256) and IMA/DVI ADPCM (4-bit adaptive; the text fixture's
  * pseudo-random ±12800 jumps are ADVERSARIAL for a slew-limited
  * codec, so the honest gauge is the measured global max — 22773 across
  * all SFs, bound 24576 — PLUS the codec's exact anchor: each block
  * header stores its first sample verbatim, so feature[0] must match
  * the source bit-exactly).  The per-sample granularity trick is the
  * image tier's kernel(8,8) move: frame count = sample count makes the
  * frame-energy kernel emit |sample| per frame, so the gauge compares
  * every reconstructed sample against the oracle-recomputable source
  * envelope |(src[(i·7+3) mod len] − 76) · 256|.
  */
object R17bQueries extends QuerySet {

  private val Err422Bound = 150.0
  private val Err411Bound = 176.0
  private val G711Bound = 512.0   // closed form: max over segments of 2^(seg+2)
  private val AdpcmBound = 24576.0 // measured corpus max 22773 (adversarial slew)

  private val to422Jpeg = udf((text: String) =>
    JpegCodec.color422Jpeg(8, 8, MultimodalOps.asciiBytes(text),
      quality = 90))

  private val to411Jpeg = udf((text: String) =>
    JpegCodec.color411Jpeg(8, 8, MultimodalOps.asciiBytes(text),
      quality = 90))

  private def fixtureSignal(text: String): Array[Short] = {
    val src = MultimodalOps.asciiBytes(text)
    Array.tabulate(256) { i =>
      (((src((i * 7 + 3) % src.length) & 0xff) - 76) * 256).toShort
    }
  }

  private val toUlawWav = udf((text: String) =>
    AudioCodec.encodeWavUlaw(16000, fixtureSignal(text)))

  private val toAlawWav = udf((text: String) =>
    AudioCodec.encodeWavAlaw(16000, fixtureSignal(text)))

  private val toAdpcmWav = udf((text: String) =>
    AudioCodec.encodeWavAdpcm(16000, fixtureSignal(text)))

  private val toProgColorJpeg = udf((text: String) =>
    JpegCodec.progColorJpeg(8, 8, MultimodalOps.asciiBytes(text),
      quality = 90))

  /** per-sample tolerance gauge for a lossy WAV container: decode at
    * frame-per-sample granularity, recompute the source envelope from
    * the text, assert max ||decoded| − |source|| ≤ bound in-row
    * (||a|−|b|| ≤ |a−b|, so the companding/slew bound transfers). */
  private def wavGauge(s: SparkSession, dir: String,
      payload: org.apache.spark.sql.expressions.UserDefinedFunction,
      bound: Double, withAnchor: Boolean): DataFrame = {
    val d = Tables.docs(s, dir).withColumn("payload", payload(col("text")))
    val dec = AudioCodec.decodeWith(d, col("payload"), col("doc_id"),
      frames = 256).toDF()
    val base = dec.join(Tables.docs(s, dir), "doc_id")
      .withColumn("ptext", regexp_replace(col("text"), "[^ -~]", "?"))
      .withColumn("src_abs", expr(
        "transform(sequence(0, 255), i -> abs((ascii(substr(ptext, " +
          "((i * 7 + 3) % length(ptext)) + 1, 1)) - 76) * 256))"))
      .withColumn("max_err", expr(
        "aggregate(zip_with(features, src_abs, (f, p) -> abs(f - p)), " +
          "0D, (acc, x) -> greatest(acc, x))"))
    val gauged = base.select(col("doc_id"), col("byte_len"),
      col("sample_rate").cast("long").as("sample_rate"), col("n_samples"),
      (col("max_err") <= bound).as("within_bound"),
      // the ADPCM block header stores sample 0 VERBATIM — its decoded
      // magnitude must equal the source's exactly (the lossless anchor
      // inside the lossy container)
      (element_at(col("features"), 1) ===
        element_at(col("src_abs"), 1).cast("double")).as("anchor_exact"))
    if (withAnchor) gauged else gauged.drop("anchor_exact")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // 4:2:2 — horizontal-only chroma halving (the broadcast shape);
    // MCU = 2 Y blocks + Cb + Cr over a 16×8 tile
    "mm_jpeg422_decode" -> ((s, dir) =>
      R17Queries.colorSumGauge(s, dir, to422Jpeg, Err422Bound)),

    // 4:1:1 — horizontal chroma quartering (legacy NTSC-DV);
    // MCU = 4 Y blocks + Cb + Cr over a 32×8 tile
    "mm_jpeg411_decode" -> ((s, dir) =>
      R17Queries.colorSumGauge(s, dir, to411Jpeg, Err411Bound)),

    // G.711 μ-law (WAV format tag 7): 8-bit companded telephony audio;
    // closed-form midpoint-reconstruction bound 512
    "mm_wav_ulaw" -> ((s, dir) =>
      wavGauge(s, dir, toUlawWav, G711Bound, withAnchor = false)),

    // G.711 A-law (tag 6): the European companding variant, same bound
    "mm_wav_alaw" -> ((s, dir) =>
      wavGauge(s, dir, toAlawWav, G711Bound, withAnchor = false)),

    // IMA/DVI ADPCM (tag 0x11): 4-bit adaptive differential coding;
    // measured adversarial-slew bound + the verbatim block-start anchor
    "mm_wav_adpcm" -> ((s, dir) =>
      wavGauge(s, dir, toAdpcmWav, AdpcmBound, withAnchor = true)),

    // PROGRESSIVE COLOR (SOF2, 3-component 4:4:4): interleaved DC scan
    // (the only scan kind spec §G.1.1 lets interleave) + per-component
    // AC band scans; same quantized coefficients as the sequential
    // 4:4:4 container ⇒ decode asserted BIT-EQUAL per document
    "mm_jpeg_prog_color_decode" -> ((s, dir) =>
      R17Queries.bitEqualGauge(s, dir, toProgColorJpeg,
        "prog_color_equals_seq", baseline = R17Queries.colorJpegUdf)),

    // PCM WAV breadth (the real-world container shapes): stereo 16-bit
    // (identical channels ⇒ the (L+R)>>1 downmix reproduces the mono
    // envelope exactly), legacy UNSIGNED 8-bit ((b−128)<<8 expansion),
    // and 24-bit (top-16 truncation) — the fixture samples are
    // multiples of 256, so every conversion is EXACT and the oracle
    // replays the envelope hash-exactly; byte_len pins each container's
    // exact size by doc
    "mm_wav_formats" -> ((s, dir) => {
      val toWav = udf((id: Long, text: String) => {
        val sig = fixtureSignal(text)
        (id % 3) match {
          case 0 => AudioCodec.encodeWavStereo(16000, sig, sig)
          case 1 => AudioCodec.encodeWav8(16000, sig)
          case _ => AudioCodec.encodeWav24(16000,
            sig.map(s => s.toInt << 8))
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toWav(col("doc_id"), col("text")))
      AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames = 16)
        .toDF()
        .select(col("doc_id"), col("byte_len"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), posexplode(col("features")))
        .select(col("doc_id"), col("byte_len"), col("sample_rate"),
          col("n_samples"), col("pos").cast("long").as("j"),
          round(col("col"), 6).as("feat"))
    }),

    // FLAC: the LOSSLESS compressed audio container —
    // decode(encode(x)) == x bit-for-bit (MD5-anchored in STREAMINFO,
    // CRC-8/CRC-16 per frame), so the oracle replays the envelope
    // HASH-EXACTLY from the text, through real Rice-coded residuals;
    // predictors cycle by doc parity — FIXED (order 0-4) on even ids,
    // LPC order 8 (Levinson-Durbin + QLP, the real-world subframe
    // kind) on odd — blockSize 64 ⇒ 4 frames/doc; byte_len omitted —
    // compressed size is content-dependent
    "mm_flac_decode" -> ((s, dir) => {
      val toFlac = udf((id: Long, text: String) =>
        FlacCodec.flacFromBytes(16000, 256, MultimodalOps.asciiBytes(text),
          lpcOrder = if (id % 2 == 1) 8 else 0))
      val d = Tables.docs(s, dir)
        .withColumn("payload", toFlac(col("doc_id"), col("text")))
      AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames = 16)
        .toDF()
        .select(col("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), posexplode(col("features")))
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    // JPEG QUALITY sweep (r17): quality 50/70/90 by doc — the per-doc
    // max pixel error must stay within the CLOSED-FORM quantization
    // ceiling [[JpegCodec.pixelErrorBound]](q) at every quality, tying
    // the quality knob to the codec's error model (the bound is
    // derived, not fitted: Σ C(u)C(v)·quant/8 + rounding)
    "mm_jpeg_quality_gauge" -> ((s, dir) => {
      val gauge = udf((id: Long, text: String) => {
        val q = (id % 3) match { case 0 => 50; case 1 => 70; case _ => 90 }
        val src = MultimodalOps.asciiBytes(text)
        val r = JpegCodec.decode(JpegCodec.grayJpeg(8, 8, src, q))
        val maxErr = (0 until 64).map(j => math.abs(r.lumaSum3(j) / 3 -
          (src(j % src.length) & 0xff))).max
        maxErr <= JpegCodec.pixelErrorBound(q)
      })
      Tables.docs(s, dir)
        .select(col("doc_id"),
          (col("doc_id") % 3).cast("long").as("q_class"),
          gauge(col("doc_id"), col("text")).as("within_bound"))
    }),

    // Netpbm family breadth (r17): binary PGM (P5), ASCII PGM (P2),
    // ASCII PPM (P3) cycling by doc — trivially lossless, hash-exact
    "mm_pnm_formats" -> ((s, dir) => {
      val toImg = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val g = (x: Int, y: Int) => src((y * 8 + x) % src.length) & 0xff
        (id % 3) match {
          case 0 => ImageCodec.encodePgm(8, 8, g)
          case 1 => ImageCodec.encodePnmAscii(8, 8,
            (x, y) => (g(x, y), g(x, y), g(x, y)), gray = true)
          case _ => ImageCodec.encodePnmAscii(8, 8,
            (x, y) => (g(x, y), g(x, y), g(x, y)), gray = false)
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toImg(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    // BMP real-world shapes (r17): 8-bit palette (bottom-up),
    // TOP-DOWN (negative height), and BI_RLE8 compression (encoded
    // runs + absolute mode + EOL/EOB) cycling by doc — lossless ⇒ the
    // same hash-exact replay as the 24-bit sweep
    "mm_bmp_shapes" -> ((s, dir) => {
      val toImg = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val g = (x: Int, y: Int) => src((y * 8 + x) % src.length) & 0xff
        (id % 3) match {
          case 0 => ImageCodec.encodeBmp8(8, 8, g)
          case 1 => ImageCodec.encodeBmp8(8, 8, g, topDown = true)
          case _ => ImageCodec.encodeBmp8(8, 8, g, rle = true)
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toImg(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    // INTERLACED GIF (four-pass row order) with per-image LOCAL color
    // tables by doc parity — the local-table docs carry an INVERTED
    // global table, so a decoder ignoring the override produces wrong
    // pixels, not silently right ones; lossless ⇒ hash-exact replay
    "mm_gif_interlaced" -> ((s, dir) => {
      val toImg = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        ImageCodec.encodeGif(8, 8,
          (x, y) => src((y * 8 + x) % src.length) & 0xff,
          interlace = true, localTable = id % 2 == 0)
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toImg(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    // TIFF 6.0 (the scanner/scientific interchange container): one
    // corpus sweep cycles compression (none / LZW / PackBits) by
    // doc_id mod 3 — LZW docs alternate the horizontal-differencing
    // predictor — byte order by parity (II and MM both occur in the
    // wild), and strip layout by doc_id mod 4; lossless, so the oracle
    // is the same hash-exact text replay as the PNG tier
    "mm_tiff_decode" -> ((s, dir) => {
      val toImg = udf((id: Long, text: String) => {
        val comp = (id % 3) match {
          case 0 => 1; case 1 => 5; case _ => 32773
        }
        TiffCodec.grayTiff(8, 8, MultimodalOps.asciiBytes(text),
          compression = comp,
          predictor = if (comp == 5 && id % 2 == 0) 2 else 1,
          bigEndian = id % 2 == 1,
          rowsPerStrip = if (id % 4 == 3) 3 else 0)
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toImg(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    // ADAM7-INTERLACED PNG (the progressive-download container shape):
    // lossless, so the oracle is the mm_png_decode HASH-EXACT text
    // replay — color type and row filter cycle by doc as in the
    // sequential PNG sweep, now through the 7-pass scatter path
    "mm_png_interlaced" -> ((s, dir) => {
      val toImg = udf((id: Long, text: String) =>
        ImageCodec.grayPng(8, 8, MultimodalOps.asciiBytes(text),
          colorType = if (id % 2 == 0) 2 else 0,
          filter = (id % 5).toInt, interlace = true))
      val d = Tables.docs(s, dir)
        .withColumn("payload", toImg(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    })
  )

  def oracles: Map[String, String] = Map(

    "mm_jpeg422_decode" ->
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS within_bound
        |FROM documents""".stripMargin,

    "mm_jpeg411_decode" ->
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS within_bound
        |FROM documents""".stripMargin,

    // byte_len = 44-byte canonical header + 256 companded bytes
    "mm_wav_ulaw" ->
      """SELECT doc_id, 300::BIGINT AS byte_len,
        |  16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
        |  true AS within_bound
        |FROM documents""".stripMargin,

    "mm_wav_alaw" ->
      """SELECT doc_id, 300::BIGINT AS byte_len,
        |  16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
        |  true AS within_bound
        |FROM documents""".stripMargin,

    // byte_len = 60-byte header (RIFF + 20-byte fmt + fact) + one
    // 256-byte block; the anchor column asserts the verbatim sample
    "mm_wav_adpcm" ->
      """SELECT doc_id, 316::BIGINT AS byte_len,
        |  16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
        |  true AS within_bound, true AS anchor_exact
        |FROM documents""".stripMargin,

    "mm_jpeg_prog_color_decode" ->
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS prog_color_equals_seq
        |FROM documents""".stripMargin,

    "mm_jpeg_quality_gauge" ->
      """SELECT doc_id, (doc_id % 3)::BIGINT AS q_class,
        |  true AS within_bound
        |FROM documents""".stripMargin,

    "mm_pnm_formats" ->
      s"""WITH ${R16bQueries.RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_bmp_shapes" ->
      s"""WITH ${R16bQueries.RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_gif_interlaced" ->
      s"""WITH ${R16bQueries.RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_png_interlaced" ->
      s"""WITH ${R16bQueries.RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_tiff_decode" ->
      s"""WITH ${R16bQueries.RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_flac_decode" ->
      s"""WITH ${R16eQueries.WavFeatSql}
         |SELECT doc_id, 16000::BIGINT AS sample_rate,
         |  256::BIGINT AS n_samples, j, feat
         |FROM wf""".stripMargin,

    // stereo: 44 + 4·256; 8-bit: 44 + 256; 24-bit: 44 + 3·256
    "mm_wav_formats" ->
      s"""WITH ${R16eQueries.WavFeatSql}
         |SELECT doc_id,
         |  (CASE doc_id % 3 WHEN 0 THEN 1068 WHEN 1 THEN 300
         |   ELSE 812 END)::BIGINT AS byte_len,
         |  16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
         |  j, feat
         |FROM wf""".stripMargin
  )
}
