package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{AudioCodec, FlacCodec, ImageCodec, MultimodalOps,
  TiffCodec, VideoCodec}

/** Round-18: the real-world codec shapes the r17 verdict ranked next.
  *
  *  - `mm_flac_stereo`: STEREO FLAC through all four spec channel
  *    assignments (independent L/R + the L/S, R/S, M/S decorrelation
  *    modes, cycling by doc_id % 5 with the cost-based auto mode fifth)
  *    and both subframe families (FIXED even ids, LPC-8 odd).  L is the
  *    WAV fixture map (7i+3), R a second walk (11i+5) over the same
  *    projected bytes; the decode dispatch downmixes (L+R)>>1 — the
  *    AudioCodec stereo-WAV convention — so the oracle replays the
  *    envelope HASH-EXACTLY from the text: both channel maps are
  *    integer-exact, the downmix of two even multiples of 256 is exact,
  *    and a decoder slipping any bit of any mode's side-channel
  *    reconstruction fails MD5 first and the hash compare second.
  *
  *  - `mm_tiff_tiled`: the §15 TILED layout + palette TIFF over a
  *    24×24 raster (so every container has real multi-tile grids with
  *    ragged 8-pixel edges: 24 = 16 + 8).  Cycling by doc_id % 5 —
  *    16×16 LE uncompressed, 16×16 BE LZW, 16×16 LE LZW+predictor-2,
  *    32×16 BE PackBits, and 16×16 LE through the identity-gray
  *    ColorMap (photometric 3).  Lossless, so the oracle replays
  *    kernel(4,4) block means straight from the text — any tile
  *    mis-stride, edge-padding slip, or palette misread fails the
  *    hash compare.
  *
  *  - `mm_png_shapes`: the two most common real-world PNG shapes the
  *    r17 tier still rejected — PALETTE (color type 3 + PLTE) and
  *    16-BIT depth (gray and truecolor; samples big-endian with a
  *    deterministic non-equal low byte, so the high-byte projection
  *    is proven) — cycling by doc_id % 5 with Adam7 combinations; the
  *    row filter still cycles by doc_id % 5 underneath.  Same
  *    hash-exact text-replay oracle as the 8-bit tier.
  *
  *  - `mm_pbm_bitmaps`: 1-BIT Netpbm (P4 bit-packed / P1 ASCII, the
  *    last rejected family members) with the spec polarity 1 = black;
  *    bit(x,y) = text pixel parity, so the oracle replays the 0/255
  *    raster exactly.
  *
  *  - `mm_tiff_planar`: PlanarConfiguration 2 — plane-major RGB strip
  *    sequences with predictor distance 1 inside a plane (the
  *    scientific-TIFF layout), cycling compression / byte order /
  *    predictor / RowsPerStrip; the COLOR block-mean oracle replays
  *    (r+g+b) sums from the text.
  *
  *  - `mm_gif_animated`: GIF89a animation (NETSCAPE2.0 loop extension,
  *    GCE-per-frame, multiple image descriptors) — every frame decoded
  *    independently and feature-pooled; frame f's raster walks the
  *    text at offset 29f, so the oracle replays every frame
  *    hash-exactly.  Partial-frame compositing is rejected by name.
  *
  *  - `mm_flac_wasted`: the spec's WASTED-BITS subframe form — the
  *    fixture's ×256 samples carry 8 common trailing zero bits, so the
  *    encoder codes every subframe at 8/9 bits and the stream shrinks
  *    by roughly half; decode shifts back, so the SAME hash-exact
  *    envelope oracle as mm_flac_decode gates it.
  *
  *  - `mm_wav_extensible`: WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE) — how
  *    modern writers wrap PCM (40-byte fmt, validBits, channel mask,
  *    KSDATAFORMAT GUID); mono on even ids, stereo (the second 11i+5
  *    channel walk, (L+R)>>1 downmix) on odd.
  *
  *  - `mm_pnm_16bit`: 16-bit Netpbm (maxval 65535) — binary P5/P6
  *    big-endian pairs with a deliberately different low byte and
  *    ASCII P2/P3 at v·256+37, so the high-byte projection is proven;
  *    cycling by doc_id % 4 against the standard text-replay oracle.
  *
  *  - `mm_bmp_highcolor`: the remaining real-world BMP shapes — 16-bit
  *    HighColor (BI_RGB X1R5G5B5 and BI_BITFIELDS R5G6B5, decoded via
  *    the standard bit-replication expansion, so the quantize→expand
  *    round trip is SQL-replayable in closed form) and 4-bit palette
  *    (uncompressed nibbles + BI_RLE4 alternating-nibble runs, i·17
  *    grayscale table) — cycling by doc_id % 4, hash-exact.
  *
  *  - `mm_y4m_frames` / `mm_y4m_frame_dedup`: the tier's first VIDEO
  *    container — Y4M (YUV4MPEG2, the ffmpeg raw-video interchange
  *    format): ASCII stream/frame headers + raw planes.  Frame f's
  *    luma walks the text at offset 29f (the animated-GIF map), the
  *    chroma tag cycles mono/420/422/444 by doc_id % 4 (chroma planes
  *    are walked at tag-exact sizes — a size slip desynchronizes the
  *    next FRAME marker), and features pool the luma.  The dedup query is
  *    the video production shape: frame-level exact dedup ACROSS the
  *    corpus — md5-bucketed (the dd_exact single-shuffle discipline),
  *    luma-equality confirmed, (doc, frame) pairs ordered
  *    lexicographically; the oracle recomputes frame equality straight
  *    from the text.
  *
  *  - `mm_au_aiff`: the two BIG-ENDIAN audio containers — Sun AU
  *    (".snd", encoding 3) on even ids and AIFF (FORM/COMM with the
  *    80-bit extended sample rate + SSND) on odd — same fixture
  *    signal, same hash-exact envelope oracle; byte_len pins each
  *    container's exact header overhead (AU 24+512, AIFF 54+520).
  *    Both decoders are ALSO conformance-anchored against stdlib
  *    sunau/aifc bytes in R18ConformanceSpec.
  */
object R18Queries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "mm_flac_stereo" -> ((s, dir) => {
      val modes = Array("lr", "ls", "rs", "ms", "auto")
      val toFlac = udf((id: Long, text: String) =>
        FlacCodec.flacStereoFromBytes(16000, 256,
          MultimodalOps.asciiBytes(text),
          mode = modes((id % 5).toInt),
          lpcOrder = if (id % 2 == 1) 8 else 0))
      val d = Tables.docs(s, dir)
        .withColumn("payload", toFlac(col("doc_id"), col("text")))
      AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames = 16)
        .toDF()
        .select(col("doc_id"),
          (col("doc_id") % 5).cast("long").as("mode_class"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), posexplode(col("features")))
        .select(col("doc_id"), col("mode_class"), col("sample_rate"),
          col("n_samples"), col("pos").cast("long").as("j"),
          round(col("col"), 6).as("feat"))
    }),

    "mm_tiff_tiled" -> ((s, dir) => {
      val toTiff = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        (id % 5) match {
          case 0 => TiffCodec.grayTiff(24, 24, src, compression = 1,
            tileW = 16, tileH = 16)
          case 1 => TiffCodec.grayTiff(24, 24, src, compression = 5,
            bigEndian = true, tileW = 16, tileH = 16)
          case 2 => TiffCodec.grayTiff(24, 24, src, compression = 5,
            predictor = 2, tileW = 16, tileH = 16)
          case 3 => TiffCodec.grayTiff(24, 24, src, compression = 32773,
            bigEndian = true, tileW = 32, tileH = 16)
          case _ => TiffCodec.grayTiff(24, 24, src, compression = 1,
            tileW = 16, tileH = 16, asPalette = true)
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toTiff(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          (col("doc_id") % 5).cast("long").as("container_class"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("container_class"), col("width"),
          col("height"), col("pos").cast("long").as("j"),
          round(col("col"), 6).as("feat"))
    }),

    "mm_png_shapes" -> ((s, dir) => {
      val toPng = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val f = (id % 5).toInt
        (id % 5) match {
          case 0 => ImageCodec.grayPng(8, 8, src, colorType = 3,
            filter = f)
          case 1 => ImageCodec.grayPng(8, 8, src, colorType = 0,
            filter = f, depth = 16)
          case 2 => ImageCodec.grayPng(8, 8, src, colorType = 2,
            filter = f, depth = 16)
          case 3 => ImageCodec.grayPng(8, 8, src, colorType = 3,
            filter = f, interlace = true)
          case _ => ImageCodec.grayPng(8, 8, src, colorType = 0,
            filter = f, interlace = true, depth = 16)
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toPng(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          (col("doc_id") % 5).cast("long").as("shape_class"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("shape_class"), col("width"),
          col("height"), col("pos").cast("long").as("j"),
          round(col("col"), 6).as("feat"))
    }),

    "mm_pbm_bitmaps" -> ((s, dir) => {
      val toPbm = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        ImageCodec.encodePbm(8, 8,
          (x, y) => (src((y * 8 + x) % src.length) & 1) == 1,
          ascii = id % 2 == 1)
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toPbm(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          (col("doc_id") % 2).cast("long").as("ascii_class"),
          posexplode(col("features")))
        .select(col("doc_id"), col("ascii_class"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    "mm_tiff_planar" -> ((s, dir) => {
      val toTiff = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val rgb = (x: Int, y: Int) => {
          val v = src((y * 8 + x) % src.length) & 0xff
          (v, (v * 3) % 256, (v * 7) % 256)
        }
        (id % 4) match {
          case 0 => TiffCodec.encode(8, 8, rgb, planar = 2)
          case 1 => TiffCodec.encode(8, 8, rgb, planar = 2,
            compression = 5, bigEndian = true)
          case 2 => TiffCodec.encode(8, 8, rgb, planar = 2,
            compression = 5, predictor = 2)
          case _ => TiffCodec.encode(8, 8, rgb, planar = 2,
            compression = 32773, bigEndian = true, rowsPerStrip = 3)
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toTiff(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          (col("doc_id") % 4).cast("long").as("container_class"),
          posexplode(col("features")))
        .select(col("doc_id"), col("container_class"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    "mm_gif_animated" -> ((s, dir) => {
      val decodeFrames = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
        val enc = ImageCodec.encodeGifAnimated(8, 8, frames, delayCs = 4)
        ImageCodec.decodeGifFrames(enc)
          .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq)
      })
      Tables.docs(s, dir)
        .select(col("doc_id"),
          posexplode(decodeFrames(col("doc_id"), col("text"))))
        .withColumnRenamed("pos", "frame")
        .select(col("doc_id"), col("frame").cast("long").as("frame"),
          posexplode(col("col")))
        .select(col("doc_id"), col("frame"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    "mm_flac_wasted" -> ((s, dir) => {
      val toFlac = udf((id: Long, text: String) =>
        FlacCodec.flacFromBytes(16000, 256, MultimodalOps.asciiBytes(text),
          lpcOrder = if (id % 2 == 1) 8 else 0, detectWasted = true))
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

    "mm_wav_extensible" -> ((s, dir) => {
      val toWav = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        def ch(mult: Int, add: Int) = Array.tabulate[Short](256) { i =>
          ((src((i * mult + add) % src.length) & 0xff) - 76).toShort
        }.map(v => (v * 256).toShort)
        if (id % 2 == 0) AudioCodec.encodeWavExtensible(16000, 1, ch(7, 3))
        else {
          val l = ch(7, 3); val r = ch(11, 5)
          val inter = new Array[Short](512)
          var i = 0
          while (i < 256) {
            inter(2 * i) = l(i); inter(2 * i + 1) = r(i); i += 1
          }
          AudioCodec.encodeWavExtensible(16000, 2, inter)
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toWav(col("doc_id"), col("text")))
      AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames = 16)
        .toDF()
        .select(col("doc_id"),
          (col("doc_id") % 2).cast("long").as("stereo_class"),
          col("n_samples"), posexplode(col("features")))
        .select(col("doc_id"), col("stereo_class"), col("n_samples"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    "mm_pnm_16bit" -> ((s, dir) => {
      val toPnm = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val gray = (x: Int, y: Int) => {
          val v = src((y * 8 + x) % src.length) & 0xff
          (v, v, v)
        }
        ImageCodec.encodePnm16(8, 8, gray,
          gray = id % 4 == 0 || id % 4 == 2,
          ascii = id % 4 >= 2)
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toPnm(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          (col("doc_id") % 4).cast("long").as("fmt_class"),
          posexplode(col("features")))
        .select(col("doc_id"), col("fmt_class"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    "mm_bmp_highcolor" -> ((s, dir) => {
      val toBmp = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        def v(x: Int, y: Int) = src((y * 8 + x) % src.length) & 0xff
        val gray = (x: Int, y: Int) => { val p = v(x, y); (p, p, p) }
        (id % 4) match {
          case 0 => ImageCodec.encodeBmp16(8, 8, gray)
          case 1 => ImageCodec.encodeBmp16(8, 8, gray, use565 = true)
          case 2 => ImageCodec.encodeBmp4(8, 8, (x, y) => v(x, y) >> 4)
          case _ => ImageCodec.encodeBmp4(8, 8, (x, y) => v(x, y) >> 4,
            rle = true)
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toBmp(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          (col("doc_id") % 4).cast("long").as("shape_class"),
          posexplode(col("features")))
        .select(col("doc_id"), col("shape_class"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    "mm_y4m_frames" -> ((s, dir) => {
      val decodeFrames = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
        val chroma = (id % 4) match {
          case 0 => "mono"; case 1 => "420"; case 2 => "422"; case _ => "444"
        }
        VideoCodec.decodeY4mFrames(
          VideoCodec.encodeY4m(8, 8, frames, chroma = chroma))
          .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq)
      })
      Tables.docs(s, dir)
        .select(col("doc_id"), (col("doc_id") % 4).as("chroma_class"),
          posexplode(decodeFrames(col("doc_id"), col("text"))))
        .withColumnRenamed("pos", "frame")
        .select(col("doc_id"), col("chroma_class").cast("long"),
          col("frame").cast("long").as("frame"), posexplode(col("col")))
        .select(col("doc_id"), col("chroma_class"), col("frame"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    "mm_y4m_frame_dedup" -> ((s, dir) => {
      val frameHashes = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        VideoCodec.decodeY4mFrames(VideoCodec.encodeY4m(8, 8,
          (0 until 3).map { f =>
            (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
          }, chroma = "420"))
          .map(r => r.lumaSum3.mkString(","))
      })
      val frames = Tables.docs(s, dir)
        .select(col("doc_id"),
          posexplode(frameHashes(col("doc_id"), col("text"))))
        .select(col("doc_id"), col("pos").cast("long").as("frame"),
          col("col").as("luma"), md5(col("col")).as("__k"))
        .persist()
      graft.core.CacheScope.register(frames)
      frames.as("a").join(frames.as("b"),
          col("a.__k") === col("b.__k") && col("a.luma") === col("b.luma") &&
            (col("a.doc_id") < col("b.doc_id") ||
              (col("a.doc_id") === col("b.doc_id") &&
                col("a.frame") < col("b.frame"))))
        .select(col("a.doc_id").as("doc_a"), col("a.frame").as("frame_a"),
          col("b.doc_id").as("doc_b"), col("b.frame").as("frame_b"))
    }),

    "mm_au_aiff" -> ((s, dir) => {
      val toAudio = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val samples = Array.tabulate[Short](256) { i =>
          (((src((i * 7 + 3) % src.length) & 0xff) - 76) * 256).toShort
        }
        if (id % 2 == 0) AudioCodec.encodeAu(16000, samples)
        else AudioCodec.encodeAiff(16000, samples)
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toAudio(col("doc_id"), col("text")))
      AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames = 16)
        .toDF()
        .select(col("doc_id"), col("byte_len"),
          (col("doc_id") % 2).cast("long").as("container_class"),
          col("n_samples"), posexplode(col("features")))
        .select(col("doc_id"), col("byte_len"), col("container_class"),
          col("n_samples"), col("pos").cast("long").as("j"),
          round(col("col"), 6).as("feat"))
    })
  )

  /** Downmixed stereo envelope from the text: L_i = (a1−76)·256 with
    * a1 = ascii(text[(7i+3) mod len]), R_i = (a2−76)·256 with a2 at
    * (11i+5) — downmix (L+R)>>1 = (a1+a2−152)·128 exactly (the sum is
    * even, so the arithmetic shift is exact division). */
  private val FlacStereoFeatSql =
    """fsa AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS text FROM documents),
      |fss AS (SELECT doc_id, text, unnest(generate_series(0, 255)) AS i
      |  FROM fsa),
      |fsv AS (
      |  SELECT doc_id, (i // 16) AS j,
      |    abs((ascii(substr(text,
      |        (((i * 7 + 3) % length(text)) + 1)::INT, 1))
      |      + ascii(substr(text,
      |        (((i * 11 + 5) % length(text)) + 1)::INT, 1))
      |      - 152) * 128) AS av
      |  FROM fss),
      |fsf AS (
      |  SELECT doc_id, j::BIGINT AS j,
      |    round(sum(av)::DOUBLE / count(*), 6) AS feat
      |  FROM fsv GROUP BY 1, 2)""".stripMargin

  /** kernel(4,4) block means of the 24×24 raster recomputed from the
    * text: pixel v(x,y) = ascii(text[(y·24+x) mod len]); 6×6 cells →
    * 16 exact 36-pixel means (same IEEE division both sides). */
  private val Tiff24FeatSql =
    """t24a AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS text FROM documents),
      |t24y AS (SELECT doc_id, text, unnest(generate_series(0, 23)) AS y
      |  FROM t24a),
      |t24xy AS (SELECT doc_id, text, y,
      |    unnest(generate_series(0, 23)) AS x
      |  FROM t24y),
      |t24v AS (
      |  SELECT doc_id, (y // 6) AS gy, (x // 6) AS gx,
      |    ascii(substr(text, (((y * 24 + x) % length(text)) + 1)::INT, 1))
      |      AS v
      |  FROM t24xy),
      |t24f AS (
      |  SELECT doc_id, (gy * 4 + gx)::BIGINT AS j,
      |    round(sum(v)::DOUBLE / count(*), 6) AS feat
      |  FROM t24v GROUP BY 1, 2)""".stripMargin

  def oracles: Map[String, String] = Map(

    "mm_flac_stereo" ->
      s"""WITH $FlacStereoFeatSql
         |SELECT doc_id, (doc_id % 5)::BIGINT AS mode_class,
         |  16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
         |  j, feat
         |FROM fsf""".stripMargin,

    "mm_tiff_tiled" ->
      s"""WITH $Tiff24FeatSql
         |SELECT doc_id, (doc_id % 5)::BIGINT AS container_class,
         |  24::BIGINT AS width, 24::BIGINT AS height, j, feat
         |FROM t24f""".stripMargin,

    "mm_png_shapes" ->
      s"""WITH ${R16bQueries.RealFeatSql}
         |SELECT doc_id, (doc_id % 5)::BIGINT AS shape_class,
         |  8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    // bitmap polarity: text-pixel parity 1 = black = gray 0, else 255
    "mm_pbm_bitmaps" ->
      """WITH pba AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |pby AS (SELECT doc_id, text, unnest(generate_series(0, 7)) AS y
        |  FROM pba),
        |pbxy AS (SELECT doc_id, text, y,
        |    unnest(generate_series(0, 7)) AS x FROM pby),
        |pbv AS (
        |  SELECT doc_id, (y // 2) AS gy, (x // 2) AS gx,
        |    CASE WHEN ascii(substr(text,
        |        (((y * 8 + x) % length(text)) + 1)::INT, 1)) % 2 = 1
        |      THEN 0 ELSE 255 END AS g
        |  FROM pbxy)
        |SELECT doc_id, (doc_id % 2)::BIGINT AS ascii_class,
        |  (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(g)::DOUBLE / count(*), 6) AS feat
        |FROM pbv GROUP BY 1, 2, gy, gx""".stripMargin,

    // color block means: the kernel's Σ(r+g+b)/(3·cnt) replayed
    "mm_tiff_planar" ->
      """WITH tpa AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |tpy AS (SELECT doc_id, text, unnest(generate_series(0, 7)) AS y
        |  FROM tpa),
        |tpxy AS (SELECT doc_id, text, y,
        |    unnest(generate_series(0, 7)) AS x FROM tpy),
        |tpv AS (
        |  SELECT doc_id, (y // 2) AS gy, (x // 2) AS gx,
        |    ascii(substr(text,
        |      (((y * 8 + x) % length(text)) + 1)::INT, 1)) AS v
        |  FROM tpxy),
        |tps AS (
        |  SELECT doc_id, gy, gx,
        |    (v + (v * 3) % 256 + (v * 7) % 256) AS s
        |  FROM tpv)
        |SELECT doc_id, (doc_id % 4)::BIGINT AS container_class,
        |  (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(s)::DOUBLE / (3.0 * count(*)), 6) AS feat
        |FROM tps GROUP BY 1, 2, gy, gx""".stripMargin,

    // wasted-bits coding is lossless: identical envelope oracle to
    // mm_flac_decode
    "mm_flac_wasted" ->
      s"""WITH ${R16eQueries.WavFeatSql}
         |SELECT doc_id, 16000::BIGINT AS sample_rate,
         |  256::BIGINT AS n_samples, j, feat
         |FROM wf""".stripMargin,

    // mono envelope on even ids; stereo (L+R)>>1 downmix envelope on
    // odd — both CTE families compose (disjoint names)
    "mm_wav_extensible" ->
      s"""WITH ${R16eQueries.WavFeatSql},
         |$FlacStereoFeatSql
         |SELECT doc_id, 0::BIGINT AS stereo_class,
         |  256::BIGINT AS n_samples, j, feat
         |FROM wf WHERE doc_id % 2 = 0
         |UNION ALL
         |SELECT doc_id, 1::BIGINT AS stereo_class,
         |  256::BIGINT AS n_samples, j, feat
         |FROM fsf WHERE doc_id % 2 = 1""".stripMargin,

    // 16-bit Netpbm is lossless on the fixture (high byte = v): the
    // standard text-replay block means, classed by container
    "mm_pnm_16bit" ->
      s"""WITH ${R16bQueries.RealFeatSql}
         |SELECT doc_id, (doc_id % 4)::BIGINT AS fmt_class, j, feat
         |FROM rf""".stripMargin,

    // HighColor quantize→bit-replicate in closed form: e5(q)=8q+q//4,
    // e6(q)=4q+q//16; 4-bit palette gray = 17·(v//16)
    "mm_bmp_highcolor" ->
      """WITH hca AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |hcy AS (SELECT doc_id, text, unnest(generate_series(0, 7)) AS y
        |  FROM hca),
        |hcxy AS (SELECT doc_id, text, y,
        |    unnest(generate_series(0, 7)) AS x FROM hcy),
        |hcv AS (
        |  SELECT doc_id, (y // 2) AS gy, (x // 2) AS gx,
        |    ascii(substr(text,
        |      (((y * 8 + x) % length(text)) + 1)::INT, 1)) AS v
        |  FROM hcxy),
        |hcs AS (
        |  SELECT doc_id, gy, gx,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 3 * ((v // 8) * 8 + (v // 8) // 4)
        |      WHEN 1 THEN 2 * ((v // 8) * 8 + (v // 8) // 4)
        |             + ((v // 4) * 4 + (v // 4) // 16)
        |      ELSE 3 * ((v // 16) * 17)
        |    END AS s
        |  FROM hcv)
        |SELECT doc_id, (doc_id % 4)::BIGINT AS shape_class,
        |  (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(s)::DOUBLE / (3.0 * count(*)), 6) AS feat
        |FROM hcs GROUP BY 1, 2, gy, gx""".stripMargin,

    // Y4M is raw planes: the same per-frame text replay as the
    // animated GIF, classed by chroma tag
    "mm_y4m_frames" ->
      """WITH y4a AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |y4f AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM y4a),
        |y4y AS (SELECT doc_id, text, frame,
        |    unnest(generate_series(0, 7)) AS y FROM y4f),
        |y4xy AS (SELECT doc_id, text, frame, y,
        |    unnest(generate_series(0, 7)) AS x FROM y4y),
        |y4v AS (
        |  SELECT doc_id, frame, (y // 2) AS gy, (x // 2) AS gx,
        |    ascii(substr(text,
        |      (((y * 8 + x + 29 * frame) % length(text)) + 1)::INT, 1))
        |      AS v
        |  FROM y4xy)
        |SELECT doc_id, (doc_id % 4)::BIGINT AS chroma_class,
        |  frame::BIGINT AS frame, (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(v)::DOUBLE / count(*), 6) AS feat
        |FROM y4v GROUP BY 1, 2, 3, gy, gx""".stripMargin,

    // frame-level exact dedup: (doc, frame) pairs whose 64-pixel luma
    // agrees, ordered lexicographically
    "mm_y4m_frame_dedup" ->
      """WITH fda AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |fdf AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM fda),
        |fdv AS (
        |  SELECT doc_id, frame,
        |    list_transform(generate_series(0, 63), j ->
        |      ascii(substr(text,
        |        (((j + 29 * frame) % length(text)) + 1)::INT, 1))) AS v
        |  FROM fdf)
        |SELECT x.doc_id AS doc_a, x.frame::BIGINT AS frame_a,
        |  y.doc_id AS doc_b, y.frame::BIGINT AS frame_b
        |FROM fdv x JOIN fdv y
        |  ON x.v = y.v AND (x.doc_id < y.doc_id OR
        |    (x.doc_id = y.doc_id AND x.frame < y.frame))""".stripMargin,

    // AU = 24-byte header + 512 sample bytes; AIFF = FORM(12) +
    // COMM(8+18) + SSND(8 + 8 prelude + 512)
    "mm_au_aiff" ->
      s"""WITH ${R16eQueries.WavFeatSql}
         |SELECT doc_id,
         |  (CASE doc_id % 2 WHEN 0 THEN 536 ELSE 566 END)::BIGINT
         |    AS byte_len,
         |  (doc_id % 2)::BIGINT AS container_class,
         |  256::BIGINT AS n_samples, j, feat
         |FROM wf""".stripMargin,

    // frame f's raster walks the text at offset 29f
    "mm_gif_animated" ->
      """WITH gaa AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |gaf AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM gaa),
        |gay AS (SELECT doc_id, text, frame,
        |    unnest(generate_series(0, 7)) AS y FROM gaf),
        |gaxy AS (SELECT doc_id, text, frame, y,
        |    unnest(generate_series(0, 7)) AS x FROM gay),
        |gav AS (
        |  SELECT doc_id, frame, (y // 2) AS gy, (x // 2) AS gx,
        |    ascii(substr(text,
        |      (((y * 8 + x + 29 * frame) % length(text)) + 1)::INT, 1))
        |      AS v
        |  FROM gaxy)
        |SELECT doc_id, frame::BIGINT AS frame,
        |  (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(v)::DOUBLE / count(*), 6) AS feat
        |FROM gav GROUP BY 1, 2, gy, gx""".stripMargin
  )
}
