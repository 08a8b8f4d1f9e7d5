package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** The media tier: documents rendered into image, audio and video
  * payloads, decoded through the real codecs, and turned into feature rows,
  * perceptual hashes, near-duplicate pairs and codec gauges.  Names: `mm`.
  * [[RealFeatSql]], [[RealAHash64Sql]] and [[WavFeatSql]] are the shared
  * oracle fragments of the decoded-feature queries. */
object MediaQueries extends QuerySet {

  import Tables.docs

  /** The tier's one render→decode path: each document row of `in` gets a
    * payload rendered by `render` (a UDF over the doc columns), decoded
    * through the real codecs — an image `kernel` (`Left`) or an audio
    * frame count (`Right`).  Columns: the codec's feature record. */
  private[queries] def decoded(in: DataFrame, render: Column,
      codec: Either[MultimodalOps.DecodeKernel, Int]): DataFrame = {
    val d = in.withColumn("payload", render)
    codec.fold(
      k => MultimodalOps.decodeWith(d, col("payload"), col("doc_id"), k).toDF(),
      n => AudioCodec.decodeWith(d, col("payload"), col("doc_id"), n).toDF())
  }

  /** One (doc_id, keep…, j, feat) row per decoded feature j, feat rounded
    * to 6 dp — the shape every feature oracle replays. */
  private def featureRows(dec: DataFrame, keep: Column*): DataFrame = {
    val wide = dec.select((col("doc_id") +: keep :+ posexplode(col("features"))): _*)
    wide.select((wide.columns.dropRight(2).toSeq.map(col) :+
      col("pos").cast("long").as("j") :+ round(col("col"), 6).as("feat")): _*)
  }

  /** One (doc_id, keep…, idx, j, feat) row per feature j of each frame
    * of `frames`, a (doc_id, keep…, pos, col) posexplode of per-frame
    * feature arrays; `pos` becomes the long frame index `idx` and feat is
    * rounded to 6 dp. */
  private def frameFeatureRows(frames: DataFrame, idx: String,
      keep: String*): DataFrame = {
    val kept = col("doc_id") +: keep.map(col)
    frames.withColumnRenamed("pos", idx)
      .select(kept :+ asLong(idx) :+ posexplode(col("col")): _*)
      .select(kept :+ col(idx) :+ col("pos").cast("long").as("j") :+
        round(col("col"), 6).as("feat"): _*)
  }

  /** The 4×4 raster features of each composited frame of an 8×8
    * animated GIF built from `frames`. */
  private def compositeFeatures(frames: Seq[ImageCodec.GifFrame])
      : IndexedSeq[Seq[Double]] =
    ImageCodec.decodeGifComposited(
      ImageCodec.encodeGifAnimatedComposite(8, 8, frames))
      .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq)

  /** The `doc_id % m` class column `name`. */
  private def docClass(name: String, m: Int): Column =
    (col("doc_id") % m).cast("long").as(name)

  /** Record column `name` cast to long. */
  private def asLong(name: String): Column = col(name).cast("long").as(name)

  /** aHash oracle CTE: mirrors stubDecode's md5-derived 16-cell feature
    * grid and the bit-weight fold of [[graft.ops.MultimodalOps.aHash]] —
    * ends at `a(doc_id, ahash)`. */
  private val AHashSql =
    """d AS (SELECT doc_id, md5(text) AS h FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(0, 15),
      |      j -> ('0x' || substr(h, j * 2 + 1, 2))::INT / 255.0) AS fs
      |  FROM d),
      |m AS (
      |  SELECT doc_id, fs,
      |    list_reduce(fs, (a, b) -> a + b) / 16.0 AS mean
      |  FROM f),
      |a AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(generate_series(0, 15),
      |      j -> CASE WHEN fs[j + 1] > mean THEN pow(2.0, j) ELSE 0.0 END),
      |      (a, b) -> a + b)::BIGINT AS ahash
      |  FROM m)""".stripMargin

  /** docs → (doc_id, byte_len, width, height, features) through REAL
    * encode→decode.  BMP for even ids, PPM for odd. */
  private def realDecoded(s: SparkSession, dir: String): DataFrame = {
    val toImg = udf((id: Long, text: String) =>
      ImageCodec.grayFromBytes(8, 8, MultimodalOps.asciiBytes(text),
        id % 2 == 1))
    decoded(docs(s, dir), toImg(col("doc_id"), col("text")),
      Left(ImageCodec.kernel(4, 4)))
  }

  /** All-pairs aHash near-dups at Hamming ≤ 3 over the `a(doc_id, ahash)`
    * CTE that `hashCte` ends at — the brute-force ground truth of every
    * banded aHash query (4-band blocking is lossless at Hamming ≤ 3). */
  private def ahashPairsSql(hashCte: String): String =
    s"""WITH $hashCte
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
       |FROM a x JOIN a y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.ahash, y.ahash)) <= 3""".stripMargin

  /** Block-mean features recomputed from the text (never the bytes):
    * pixel v(x,y) = ascii(text[(y·8+x) mod len]); 2×2 cells of the 8×8
    * raster → 16 exact-quarter means.  Text goes through the printable-
    * ASCII projection FIRST — the exact SQL mirror of
    * [[graft.ops.MultimodalOps.asciiBytes]], so char indexing and byte
    * indexing agree on any input, not just ASCII corpora. */
  private val RealFeatSql =
    """pa AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS text FROM documents),
      |py AS (SELECT doc_id, text, unnest(generate_series(0, 7)) AS y
      |  FROM pa),
      |pxy AS (SELECT doc_id, text, y, unnest(generate_series(0, 7)) AS x
      |  FROM py),
      |pv AS (
      |  SELECT doc_id, (y // 2) AS gy, (x // 2) AS gx,
      |    ascii(substr(text, (((y * 8 + x) % length(text)) + 1)::INT, 1))
      |      AS v
      |  FROM pxy),
      |rf AS (
      |  SELECT doc_id, (gy * 4 + gx)::BIGINT AS j,
      |    round(sum(v)::DOUBLE / count(*), 6) AS feat
      |  FROM pv GROUP BY 1, 2)""".stripMargin

  /** Per-PIXEL 64-bit aHash recomputed from the text — the SQL mirror of
    * [[graft.ops.ImageCodec.kernel]](8,8) over the 8×8 raster (each cell
    * is one pixel, so feature j IS pixel j: v(j) =
    * ascii(ptext[(j mod len)+1])) followed by
    * [[graft.ops.MultimodalOps.aHash]].  Bit 63 can't be written as
    * `1 << 63` in DuckDB (range-checked shift), so it's the BIGINT
    * min-value literal — the identical two's-complement value Spark's
    * `shiftleft(1L, 63)` wraps to. */
  private[queries] val RealAHash64Sql =
    """h64p AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS ptext FROM documents),
      |h64v AS (SELECT doc_id,
      |    list_transform(generate_series(0, 63), j ->
      |      ascii(substr(ptext, ((j % length(ptext)) + 1)::INT, 1)))
      |      AS pv
      |  FROM h64p),
      |h64m AS (SELECT doc_id, pv,
      |    list_reduce(pv, (a, b) -> a + b) / 64.0 AS mean FROM h64v),
      |a AS (SELECT doc_id,
      |    list_reduce(list_transform(generate_series(0, 63),
      |      j -> CASE WHEN pv[j + 1] <= mean THEN 0::BIGINT
      |           WHEN j = 63 THEN (-9223372036854775808)::BIGINT
      |           ELSE 1::BIGINT << j END),
      |      (x, y) -> x | y) AS ahash
      |  FROM h64m)""".stripMargin

  private def wavDecodedAt(s: SparkSession, dir: String,
      frames: Int): DataFrame = {
    val toWav = udf((text: String) =>
      AudioCodec.wavFromBytes(16000, 256, MultimodalOps.asciiBytes(text)))
    decoded(docs(s, dir), toWav(col("text")), Right(frames))
  }

  /** 16-frame envelope — the decode query's grid. */
  private def wavDecoded(s: SparkSession, dir: String): DataFrame =
    wavDecodedAt(s, dir, frames = 16)

  /** The near-dup query's renderer: WAV from the document's 64-byte
    * projected HEAD (the same dup-bearing prefix the image tier rasters),
    * decoded at 64 frames so the envelope fills a full 64-bit aHash.
    * Rendering from the head — not the whole text — makes the fixture's
    * duplicate clusters (prefix dups) land as hamming-0 envelope pairs,
    * exactly like the raster tier; the full-text map would only pair
    * byte-exact documents, of which the sf0.01 corpus has none. */
  private def wavHeadDecoded64(s: SparkSession, dir: String): DataFrame = {
    val toWav = udf((text: String) =>
      AudioCodec.wavFromBytes(16000, 256,
        MultimodalOps.asciiBytes(text).take(64)))
    decoded(docs(s, dir), toWav(col("text")), Right(64))
  }

  /** Envelope recomputed from the text: sample value v_i =
    * (ascii(text[(7i+3) mod len]) − 76) · 256; 16 frames × 16 samples;
    * feat = mean |v| per frame. */
  private val WavFeatSql =
    """wa AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS text FROM documents),
      |ws AS (SELECT doc_id, text, unnest(generate_series(0, 255)) AS i
      |  FROM wa),
      |wv AS (
      |  SELECT doc_id, (i // 16) AS j,
      |    abs((ascii(substr(text,
      |      (((i * 7 + 3) % length(text)) + 1)::INT, 1)) - 76) * 256)
      |      AS av
      |  FROM ws),
      |wf AS (
      |  SELECT doc_id, j::BIGINT AS j,
      |    round(sum(av)::DOUBLE / count(*), 6) AS feat
      |  FROM wv GROUP BY 1, 2)""".stripMargin

  /** 64-frame envelope over the 64-byte projected HEAD → 64-bit aHash,
    * the r18 scale-safe near-dup shape: sample i reads head byte
    * (7i+3) mod min(len, 64), frame j covers samples [4j, 4j+4), feat =
    * mean |v| (exact — integer sum / 4, no rounding needed), hash bit j
    * set iff feat_j > mean.  Bit 63 is the BIGINT min-value literal
    * (DuckDB range-checks `1 << 63`), identical to Spark's shiftleft
    * wrap. */
  private val WavAHash64Sql =
    """w64a AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS text FROM documents),
      |w64s AS (SELECT doc_id, text, unnest(generate_series(0, 255)) AS i
      |  FROM w64a),
      |w64v AS (
      |  SELECT doc_id, (i // 4) AS j,
      |    abs((ascii(substr(text,
      |      (((i * 7 + 3) % least(length(text), 64)) + 1)::INT, 1)) - 76)
      |      * 256) AS av
      |  FROM w64s),
      |w64f AS (
      |  SELECT doc_id, j, sum(av)::DOUBLE / count(*) AS feat
      |  FROM w64v GROUP BY 1, 2),
      |w64l AS (
      |  SELECT doc_id, list(feat ORDER BY j) AS fs FROM w64f GROUP BY 1),
      |w64m AS (
      |  SELECT doc_id, fs, list_reduce(fs, (a, b) -> a + b) / 64.0 AS mean
      |  FROM w64l),
      |a AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(generate_series(0, 63),
      |      j -> CASE WHEN fs[j + 1] <= mean THEN 0::BIGINT
      |           WHEN j = 63 THEN (-9223372036854775808)::BIGINT
      |           ELSE 1::BIGINT << j END),
      |      (x, y) -> x | y) AS ahash
      |  FROM w64m)""".stripMargin

  private def pngDecodedAt(s: SparkSession, dir: String,
      grid: Int): DataFrame = {
    val toImg = udf((id: Long, text: String) =>
      ImageCodec.grayPng(8, 8, MultimodalOps.asciiBytes(text),
        colorType = if (id % 2 == 0) 2 else 0,
        filter = (id % 5).toInt))
    decoded(docs(s, dir), toImg(col("doc_id"), col("text")),
      Left(ImageCodec.kernel(grid, grid)))
  }

  private def pngDecoded(s: SparkSession, dir: String): DataFrame =
    pngDecodedAt(s, dir, grid = 4)

  private def gifDecodedAt(s: SparkSession, dir: String,
      grid: Int): DataFrame = {
    val toImg = udf((text: String) =>
      ImageCodec.grayGif(8, 8, MultimodalOps.asciiBytes(text)))
    decoded(docs(s, dir), toImg(col("text")),
      Left(ImageCodec.kernel(grid, grid)))
  }

  /** 4×4 block means — the decode query's grid (16 features). */
  private def gifDecoded(s: SparkSession, dir: String): DataFrame =
    gifDecodedAt(s, dir, grid = 4)

  /** 8×8 = per-pixel grid — the 64-bit near-dup hash's input. */
  private def gifDecoded64(s: SparkSession, dir: String): DataFrame =
    gifDecodedAt(s, dir, grid = 8)

  /** per-pixel gauge bound at quality 90 (see scaladoc above). */
  private val ErrBound = 32.0

  /** color gauge on the per-pixel r+g+b SUM: chroma error compounds
    * through the coarser Annex-K.2 quant table and the BT.601 inverse —
    * measured corpus max 68 across sf0.001/0.01/0.1 at quality 90. */
  private val ColorErrBound = 96.0

  /** 4:2:0 gauge: the text fixture's chroma varies EVERY pixel (the
    * adversarial case for 2×2 box downsampling + nearest upsampling) —
    * measured corpus max 122 across sf0.001/0.01/0.1 at quality 90. */
  private val Err420Bound = 160.0

  /** printable-ASCII projection + the 64 source pixels of the shared
    * text→8×8 raster formula — the engine-side mirror of the oracles'
    * `RealFeatSql` pixel map, as one Catalyst expression (codegen'd). */
  private def withSourcePixels(d: DataFrame): DataFrame =
    d.withColumn("ptext", regexp_replace(col("text"), "[^ -~]", "?"))
      .withColumn("src_px", expr(
        "transform(sequence(0, 63), j -> " +
          "ascii(substr(ptext, (j % length(ptext)) + 1, 1)))"))

  private val toJpeg = udf((text: String) =>
    JpegCodec.grayJpeg(8, 8, MultimodalOps.asciiBytes(text), quality = 90))

  private val toColorJpeg = udf((text: String) =>
    JpegCodec.colorJpeg(8, 8, MultimodalOps.asciiBytes(text), quality = 90))

  private val to420Jpeg = udf((text: String) =>
    JpegCodec.color420Jpeg(8, 8, MultimodalOps.asciiBytes(text),
      quality = 90))

  private val toProgJpeg = udf((text: String) =>
    JpegCodec.progJpeg(8, 8, MultimodalOps.asciiBytes(text), quality = 90))

  private val toSaJpeg = udf((text: String) => {
    val src = MultimodalOps.asciiBytes(text)
    JpegCodec.encodeProgressiveSA(8, 8,
      (x, y) => src((y * 8 + x) % src.length) & 0xff, quality = 90,
      al = 2)
  })

  /** shared per-document channel-sum tolerance gauge for the color
    * containers: decode the payload at per-pixel granularity, recompute
    * the three phase-shifted source channels from the text, assert
    * max |3·feature − (r+g+b)| ≤ bound in-row. */
  private def colorSumGauge(s: SparkSession, dir: String,
      payload: org.apache.spark.sql.expressions.UserDefinedFunction,
      bound: Double): DataFrame = {
    val dec = decoded(docs(s, dir), payload(col("text")),
      Left(ImageCodec.kernel(8, 8)))
    withSourcePixels(dec.join(Tables.docs(s, dir), "doc_id"))
      .withColumn("src_sum", expr(
        "transform(sequence(0, 63), j -> " +
          "ascii(substr(ptext, (j % length(ptext)) + 1, 1)) + " +
          "ascii(substr(ptext, ((j + 13) % length(ptext)) + 1, 1)) + " +
          "ascii(substr(ptext, ((j + 29) % length(ptext)) + 1, 1)))"))
      .withColumn("max_err", expr(
        "aggregate(zip_with(features, src_sum, " +
          "(f, p) -> abs(3 * f - p)), " +
          "0D, (acc, x) -> greatest(acc, x))"))
      .select(col("doc_id"),
        asLong("width"),
        asLong("height"),
        (col("max_err") <= bound).as("within_bound"))
  }

  /** shared bit-equality gauge for the lossless-recoding containers
    * (progressive / successive approximation): their decoded features
    * must equal the BASELINE SEQUENTIAL container's decode exactly,
    * per doc (`baseline` defaults to the grayscale fixture; the color
    * variants pass their own sequential twin). */
  private def bitEqualGauge(s: SparkSession, dir: String,
      payload: org.apache.spark.sql.expressions.UserDefinedFunction,
      flag: String,
      baseline: org.apache.spark.sql.expressions.UserDefinedFunction = toJpeg)
      : DataFrame = {
    val d = Tables.docs(s, dir)
    val seqDec = decoded(d, baseline(col("text")), Left(ImageCodec.kernel(8, 8)))
      .select(col("doc_id"), col("features").as("f_seq"))
    val otherDec = decoded(d, payload(col("text")), Left(ImageCodec.kernel(8, 8)))
    otherDec.join(seqDec, "doc_id")
      .select(col("doc_id"),
        asLong("width"),
        asLong("height"),
        (col("features") === col("f_seq")).as(flag))
  }

  /** the oracle-side pixel map (identical to [[RealFeatSql]]'s
    * projection, at pixel granularity over j = 0..63). */
  private val SrcPxSql =
    """pa AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS ptext FROM documents),
      |px AS (SELECT doc_id,
      |    list_transform(generate_series(0, 63), j ->
      |      ascii(substr(ptext, ((j % length(ptext)) + 1)::INT, 1)))
      |      AS pv
      |  FROM pa)""".stripMargin

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
    val dec = decoded(docs(s, dir), payload(col("text")), Right(256))
    val base = dec.join(Tables.docs(s, dir), "doc_id")
      .withColumn("ptext", regexp_replace(col("text"), "[^ -~]", "?"))
      .withColumn("src_abs", expr(
        "transform(sequence(0, 255), i -> abs((ascii(substr(ptext, " +
          "((i * 7 + 3) % length(ptext)) + 1, 1)) - 76) * 256))"))
      .withColumn("max_err", expr(
        "aggregate(zip_with(features, src_abs, (f, p) -> abs(f - p)), " +
          "0D, (acc, x) -> greatest(acc, x))"))
    val gauged = base.select(col("doc_id"), col("byte_len"),
      asLong("sample_rate"), col("n_samples"),
      (col("max_err") <= bound).as("within_bound"),
      // the ADPCM block header stores sample 0 VERBATIM — its decoded
      // magnitude must equal the source's exactly (the lossless anchor
      // inside the lossy container)
      (element_at(col("features"), 1) ===
        element_at(col("src_abs"), 1).cast("double")).as("anchor_exact"))
    if (withAnchor) gauged else gauged.drop("anchor_exact")
  }

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

  /** Per-(doc, frame) luma strings + md5 bucket keys for the standard
    * 3-frame/C420 Y4M fixture (frame f walks the text at offset 29f) —
    * the `mm_y4m_frame_dedup` derivation, shared by the incremental
    * pipeline.  Output: (doc_id, frame, luma, __k). */
  private[queries] def y4mFrameHashes(d: DataFrame): DataFrame = {
    val frameHashes = udf((id: Long, text: String) =>
      VideoCodec.decodeY4mFrames(
        VideoCodec.encodeY4m(8, 8, walkFrames(text, 3), chroma = "420"))
        .map(r => r.lumaSum3.mkString(",")))
    d.select(col("doc_id"),
        posexplode(frameHashes(col("doc_id"), col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("frame"),
        col("col").as("luma"), md5(col("col")).as("__k"))
  }

  /** Frames 0 until `n` of the 8×8 video fixture: frame f walks the
    * document's bytes from offset 29·f in row-major order. */
  private def walkFrames(text: String, n: Int): IndexedSeq[(Int, Int) => Int] = {
    val src = MultimodalOps.asciiBytes(text)
    (0 until n).map { f =>
      (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
    }
  }

  /** Canonically-ordered equal-frame pairs WITHIN one frame-hash set:
    * md5-bucketed (single shuffle key), luma-equality confirmed,
    * (doc, frame) lexicographic. */
  private[queries] def framePairsWithin(fr: DataFrame): DataFrame =
    fr.as("a").join(fr.as("b"),
        col("a.__k") === col("b.__k") && col("a.luma") === col("b.luma") &&
          (col("a.doc_id") < col("b.doc_id") ||
            (col("a.doc_id") === col("b.doc_id") &&
              col("a.frame") < col("b.frame"))))
      .select(col("a.doc_id").as("doc_a"), col("a.frame").as("frame_a"),
        col("b.doc_id").as("doc_b"), col("b.frame").as("frame_b"))

  /** Equal-frame pairs ACROSS two disjoint frame-hash sets (persisted
    * index × delta), canonicalized to (doc, frame) lexicographic order
    * — doc sets are disjoint by construction (each doc commits once),
    * so the ordering predicate has no ties. */
  private[queries] def framePairsAcross(old: DataFrame, delta: DataFrame)
      : DataFrame = {
    val joined = old.as("a").join(delta.as("b"),
      col("a.__k") === col("b.__k") && col("a.luma") === col("b.luma"))
    val aFirst = col("a.doc_id") < col("b.doc_id") ||
      (col("a.doc_id") === col("b.doc_id") &&
        col("a.frame") < col("b.frame"))
    joined.select(
      when(aFirst, col("a.doc_id")).otherwise(col("b.doc_id")).as("doc_a"),
      when(aFirst, col("a.frame")).otherwise(col("b.frame")).as("frame_a"),
      when(aFirst, col("b.doc_id")).otherwise(col("a.doc_id")).as("doc_b"),
      when(aFirst, col("b.frame")).otherwise(col("a.frame")).as("frame_b"))
  }

  /** Per-(doc, frame) per-pixel features for the scene fixture: 6
    * frames in 2 scenes of 3 — scene s's base walks the text at offset
    * 64s, and frame f nudges pixel (f mod 3) by +1, so within-scene
    * consecutive L1 distance is exactly 2 and the scene boundary is a
    * full re-walk.  Decoded through the REAL Y4M path. */
  private def sceneFrames(s: SparkSession, dir: String): DataFrame = {
    val feats = udf((id: Long, text: String) => {
      val src = MultimodalOps.asciiBytes(text)
      val frames: Seq[(Int, Int) => Int] = (0 until 6).map { f =>
        (x: Int, y: Int) => {
          val j = y * 8 + x
          val base = src((j + 64 * (f / 3)) % src.length) & 0xff
          if (j == f % 3) base + 1 else base
        }
      }
      VideoCodec.decodeY4mFrames(
        VideoCodec.encodeY4m(8, 8, frames, chroma = "420"))
        .map(r => ImageCodec.rasterFeatures(r, 8, 8).toSeq)
    })
    Tables.docs(s, dir)
      .select(col("doc_id"), posexplode(feats(col("doc_id"), col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("frame"),
        col("col").as("features"))
  }

  /** Per-pixel 64-bit aHash per (doc, frame) — [[RealAHash64Sql]]
    * extended with the frame offset 29f and the planted
    * frame-2 one-pixel nudge. */
  private val FrameAHashSql =
    """ndp AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS ptext FROM documents),
      |ndf AS (SELECT doc_id, ptext,
      |    unnest(generate_series(0, 2)) AS frame FROM ndp),
      |ndv AS (SELECT doc_id, frame,
      |    list_transform(generate_series(0, 63), j ->
      |      CASE WHEN frame = 2 AND j = 0
      |        THEN (ascii(substr(ptext,
      |          ((j % length(ptext)) + 1)::INT, 1)) + 1) % 256
      |        ELSE ascii(substr(ptext,
      |          (((j + 29 * (CASE WHEN frame = 2 THEN 0 ELSE frame END))
      |            % length(ptext)) + 1)::INT, 1)) END) AS pv
      |  FROM ndf),
      |ndm AS (SELECT doc_id, frame, pv,
      |    list_reduce(pv, (a, b) -> a + b) / 64.0 AS mean FROM ndv),
      |nda AS (SELECT doc_id, frame,
      |    list_reduce(list_transform(generate_series(0, 63),
      |      j -> CASE WHEN pv[j + 1] <= mean THEN 0::BIGINT
      |           WHEN j = 63 THEN (-9223372036854775808)::BIGINT
      |           ELSE 1::BIGINT << j END),
      |      (x, y) -> x | y) AS ahash
      |  FROM ndm)""".stripMargin

  /** The scene fixture + cut derivation in SQL: per-frame pixel lists,
    * lag-window L1 distance (−1 for each doc's first frame), cut flag,
    * running scene id — the exact mirror of
    * [[MultimodalOps.sceneCuts]] at threshold 64. */
  private val SceneCutSql =
    """sca AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS ptext FROM documents),
      |scf AS (SELECT doc_id, ptext,
      |    unnest(generate_series(0, 5)) AS frame FROM sca),
      |scv AS (SELECT doc_id, frame,
      |    list_transform(generate_series(0, 63), j ->
      |      ascii(substr(ptext,
      |        (((j + 64 * (frame // 3)) % length(ptext)) + 1)::INT, 1))
      |      + CASE WHEN j = frame % 3 THEN 1 ELSE 0 END) AS pv
      |  FROM scf),
      |scd AS (SELECT doc_id, frame, pv,
      |    lag(pv) OVER (PARTITION BY doc_id ORDER BY frame) AS prev
      |  FROM scv),
      |sce AS (SELECT doc_id, frame,
      |    CASE WHEN prev IS NULL THEN -1.0
      |      ELSE list_reduce(list_transform(generate_series(1, 64),
      |        i -> abs(pv[i] - prev[i])), (a, b) -> a + b)::DOUBLE
      |      END AS dist
      |  FROM scd),
      |scc AS (SELECT doc_id, frame, dist,
      |    (dist < 0 OR dist > 64.0) AS is_cut FROM sce),
      |scs AS (SELECT doc_id, frame, dist, is_cut,
      |    (sum(CASE WHEN is_cut THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY frame) - 1)::BIGINT
      |      AS scene
      |  FROM scc)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Multimodal: binary payload metadata (byte length + header sniff)
    "mm_metadata" -> ((s, dir) =>
      MultimodalOps.metadata(
        MultimodalOps.withPayload(docs(s, dir), col("text")),
        col("payload"), col("doc_id"))),

    // Multimodal: frame sampling by byte windows
    "mm_frames" -> ((s, dir) =>
      MultimodalOps.frameSample(docs(s, dir), col("text"), col("doc_id"),
        n = 4, width = 32)),

    // Multimodal: stub decoder full surface (dims + fixed-width features)
    "mm_decode" -> ((s, dir) => {
      MultimodalOps.stubDecode(
          MultimodalOps.withPayload(docs(s, dir), col("text")),
          col("payload"), col("doc_id"), dim = 4)
        .toDF()
        .select(col("doc_id"), col("byte_len"),
          asLong("width"),
          asLong("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("byte_len"), col("width"), col("height"),
          col("pos").cast("long").as("j"), col("col").as("feat"))
    }),

    // Multimodal: stub resize — decoded feature grid re-sampled (nearest)
    // to 2 entries with new nominal dims
    "mm_resize" -> ((s, dir) => {
      MultimodalOps.stubResize(
          MultimodalOps.stubDecode(
            MultimodalOps.withPayload(docs(s, dir), col("text")),
            col("payload"), col("doc_id"), dim = 4).toDF(),
          w = 32, h = 32, dim2 = 2)
        .select(col("doc_id"),
          asLong("width"),
          asLong("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), col("col").as("feat"))
    }),

    // Media near-dup pairs by identical aHash over the stub-decoded
    // 16-cell feature grid
    "mm_ahash_pairs" -> ((s, dir) =>
      MultimodalOps.aHashPairs(
        MultimodalOps.stubDecode(
          MultimodalOps.withPayload(Tables.docs(s, dir), col("text")),
          col("payload"), col("doc_id"), dim = 16).toDF(),
        col("doc_id"))),

    // Media near-dups within Hamming distance 3 of a 16-bit aHash:
    // 4x4-bit band blocking (exact recall at <=3 by pigeonhole) +
    // popcount(xor) confirm — the tolerant tier above mm_ahash_pairs.
    // DELIBERATELY 16-bit: the md5-fake stub kernel only yields 16
    // bytes of features, and this row exists to pin the banding
    // mechanics over the synthetic seam.  The PRODUCTION shape — what
    // Tables.nearDupPairs lands and every real-codec mm_*_ahash_banded
    // query registers — is the 64-bit hash with 16-bit band keys
    // (quadratic-candidate-proof; see MultimodalOps.aHashBandedPairs)
    "mm_ahash_banded" -> ((s, dir) =>
      MultimodalOps.aHashBandedPairs(
        MultimodalOps.stubDecode(
          MultimodalOps.withPayload(Tables.docs(s, dir), col("text")),
          col("payload"), col("doc_id"), dim = 16).toDF(),
        col("doc_id"), bits = 16, bands = 4, maxHamming = 3)),

    // Frame-level multimodal near-dup: documents sharing >= 2 identical
    // sampled frames — exact-equality join on the frame hash, per-doc
    // distinct frames first so repeated in-doc content cannot inflate the
    // share count; empty-window frames excluded
    "mm_frame_dedup" -> ((s, dir) => {
      val fr = MultimodalOps.frameSample(Tables.docs(s, dir), col("text"),
          col("doc_id"), n = 8, width = 32)
        .where(col("frame_hash") =!= md5(lit("")))
        .select("doc_id", "frame_hash").distinct()
      fr.as("a")
        .join(fr.as("b"),
          col("a.frame_hash") === col("b.frame_hash") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_frames"))
        .where(col("shared_frames") >= 2)
    }),

    "mm_real_decode" -> ((s, dir) =>
      featureRows(realDecoded(s, dir),
        col("byte_len"), asLong("width"), asLong("height"))),

    // real-pixel near-dups: identical banded blocking as mm_ahash_banded,
    // features from actual decoded rasters — read from the SHARED landed
    // layout (Tables.nearDupPairs) rather than re-deriving: the pair
    // graph is derived once per (JVM, dir) and every consumer (this
    // query, graph_kcore) scans the bucketed table
    "mm_real_ahash_banded" -> ((s, dir) =>
      Tables.nearDupPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), col("hamming"))),

    // real-pixel resize: the nearest-map pooling over decoded features
    "mm_real_resize" -> ((s, dir) =>
      featureRows(MultimodalOps.stubResize(realDecoded(s, dir), w = 4, h = 4, dim2 = 4),
        asLong("width"), asLong("height"))),

    "mm_wav_decode" -> ((s, dir) =>
      featureRows(wavDecoded(s, dir),
        col("byte_len"), asLong("sample_rate"), col("n_samples"))),

    // audio near-dups: aHash over the energy envelope, the identical
    // banded blocking as the image tier (one downstream, two codecs) —
    // 64 frames → 64-bit hash, 16-bit band keys (the scale-safe shape)
    "mm_wav_ahash_banded" -> ((s, dir) =>
      MultimodalOps.aHashBandedPairs(
        wavHeadDecoded64(s, dir), col("doc_id"),
        bits = 64, bands = 4, maxHamming = 3)),

    // full decode: block-mean features from real inflate+unfilter output
    // (byte_len omitted — DEFLATE output size is content-dependent)
    "mm_png_decode" -> ((s, dir) =>
      featureRows(pngDecoded(s, dir),
        asLong("width"), asLong("height"))),

    // real-PNG near-dups: identical banded blocking as the BMP/PPM tier —
    // 64-bit per-pixel hash, 16-bit band keys (the scale-safe shape)
    "mm_png_ahash_banded" -> ((s, dir) =>
      MultimodalOps.aHashBandedPairs(
        pngDecodedAt(s, dir, grid = 8), col("doc_id"),
        bits = 64, bands = 4, maxHamming = 3)),

    // full decode through real LZW (byte_len omitted — compressed size
    // is content-dependent)
    "mm_gif_decode" -> ((s, dir) =>
      featureRows(gifDecoded(s, dir),
        asLong("width"), asLong("height"))),

    // real-GIF near-dups: identical banded blocking as the other codecs —
    // 64-bit per-pixel hash, 16-bit band keys (the scale-safe shape)
    "mm_gif_ahash_banded" -> ((s, dir) =>
      MultimodalOps.aHashBandedPairs(
        gifDecoded64(s, dir), col("doc_id"),
        bits = 64, bands = 4, maxHamming = 3)),

    "mm_jpeg_decode" -> ((s, dir) => {
      // kernel(8, 8) over an 8×8 raster = per-PIXEL values (each grid
      // cell is one pixel; lumaSum3/3 is exactly the gray level)
      val dec = decoded(docs(s, dir), toJpeg(col("text")),
        Left(ImageCodec.kernel(8, 8)))
      withSourcePixels(dec.join(Tables.docs(s, dir), "doc_id"))
        .withColumn("max_err", expr(
          "aggregate(zip_with(features, src_px, (f, p) -> abs(f - p)), " +
            "0D, (acc, x) -> greatest(acc, x))"))
        .select(col("doc_id"),
          asLong("width"),
          asLong("height"),
          (col("max_err") <= ErrBound).as("within_bound"))
    }),

    // COLOR baseline JPEG (YCbCr 4:4:4): three phase-shifted channel
    // reads of the same text bytes (offsets 0/13/29 — all oracle-
    // recomputable), encoded through the chroma quant/Huffman tables and
    // the BT.601 forward transform, decoded back through the inverse;
    // the kernel's per-pixel feature is (r+g+b)/3, so 3·feature gauges
    // the channel-sum reconstruction
    "mm_jpeg_color_decode" -> ((s, dir) =>
      colorSumGauge(s, dir, toColorJpeg, ColorErrBound)),

    // the same gauge through the 4:2:0 container — chroma planes box-
    // downsampled 2× on encode, nearest-upsampled on decode (the
    // default shape of real-world encoders; MCU = 4 Y + Cb + Cr)
    "mm_jpeg420_decode" -> ((s, dir) =>
      colorSumGauge(s, dir, to420Jpeg, Err420Bound)),

    // PROGRESSIVE (SOF2, spectral selection + EOBRUN): the entropy
    // coding is lossless over the SAME quantized coefficients as the
    // sequential container, so the decode must equal the sequential
    // decode BIT-EXACTLY — asserted in-row per document (the strongest
    // oracle a multi-scan container admits)
    "mm_jpeg_prog_decode" -> ((s, dir) =>
      bitEqualGauge(s, dir, toProgJpeg, "prog_equals_seq")),

    // SUCCESSIVE APPROXIMATION (Ah/Al bit-plane scans — how real
    // progressive encoders actually write): DC bit planes + AC
    // newly-significant/correction-bit scans from Al=2 down to 0; the
    // fully-refined coefficients are the sequential ones, so the same
    // bit-equality invariant holds
    "mm_jpeg_sa_decode" -> ((s, dir) =>
      bitEqualGauge(s, dir, toSaJpeg, "sa_equals_seq")),

    "mm_jpeg_ahash_banded" -> ((s, dir) => {
      val dec = decoded(docs(s, dir), toJpeg(col("text")),
        Left(ImageCodec.kernel(8, 8)))
      val jpegPairs = MultimodalOps.aHashBandedPairs(dec, col("doc_id"),
        bits = 64, bands = 4, maxHamming = 3)
      // raster-equal pairs, keyed by the raster's content hash (the
      // dd_exact single-shuffle shape — never an all-pairs join); the
      // pv equality re-check makes the md5 key collision-proof
      val px = withSourcePixels(Tables.docs(s, dir))
        .select(col("doc_id"), col("src_px"),
          md5(col("src_px").cast("string")).as("__k"))
      val equalPairs = px.as("a")
        .join(px.as("b"),
          col("a.__k") === col("b.__k") &&
            col("a.src_px") === col("b.src_px") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      jpegPairs.join(equalPairs, Seq("doc_a", "doc_b"))
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }),

    // 4:2:2 — horizontal-only chroma halving (the broadcast shape);
    // MCU = 2 Y blocks + Cb + Cr over a 16×8 tile
    "mm_jpeg422_decode" -> ((s, dir) =>
      colorSumGauge(s, dir, to422Jpeg, Err422Bound)),

    // 4:1:1 — horizontal chroma quartering (legacy NTSC-DV);
    // MCU = 4 Y blocks + Cb + Cr over a 32×8 tile
    "mm_jpeg411_decode" -> ((s, dir) =>
      colorSumGauge(s, dir, to411Jpeg, Err411Bound)),

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
      bitEqualGauge(s, dir, toProgColorJpeg,
        "prog_color_equals_seq", baseline = toColorJpeg)),

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
      featureRows(decoded(docs(s, dir), toWav(col("doc_id"), col("text")), Right(16)),
        col("byte_len"), asLong("sample_rate"), col("n_samples"))
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
      featureRows(decoded(docs(s, dir), toFlac(col("doc_id"), col("text")), Right(16)),
        asLong("sample_rate"), col("n_samples"))
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
      featureRows(decoded(docs(s, dir), toImg(col("doc_id"), col("text")),
          Left(ImageCodec.kernel(4, 4))),
        asLong("width"), asLong("height"))
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
      featureRows(decoded(docs(s, dir), toImg(col("doc_id"), col("text")),
          Left(ImageCodec.kernel(4, 4))),
        asLong("width"), asLong("height"))
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
      featureRows(decoded(docs(s, dir), toImg(col("doc_id"), col("text")),
          Left(ImageCodec.kernel(4, 4))),
        asLong("width"), asLong("height"))
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
      featureRows(decoded(docs(s, dir), toImg(col("doc_id"), col("text")),
          Left(ImageCodec.kernel(4, 4))),
        asLong("width"), asLong("height"))
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
      featureRows(decoded(docs(s, dir), toImg(col("doc_id"), col("text")),
          Left(ImageCodec.kernel(4, 4))),
        asLong("width"), asLong("height"))
    }),

    "mm_flac_stereo" -> ((s, dir) => {
      val modes = Array("lr", "ls", "rs", "ms", "auto")
      val toFlac = udf((id: Long, text: String) =>
        FlacCodec.flacStereoFromBytes(16000, 256,
          MultimodalOps.asciiBytes(text),
          mode = modes((id % 5).toInt),
          lpcOrder = if (id % 2 == 1) 8 else 0))
      featureRows(decoded(docs(s, dir), toFlac(col("doc_id"), col("text")), Right(16)),
        docClass("mode_class", 5), asLong("sample_rate"), col("n_samples"))
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
      featureRows(decoded(docs(s, dir), toTiff(col("doc_id"), col("text")),
          Left(ImageCodec.kernel(4, 4))),
        docClass("container_class", 5), asLong("width"), asLong("height"))
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
      featureRows(decoded(docs(s, dir), toPng(col("doc_id"), col("text")),
          Left(ImageCodec.kernel(4, 4))),
        docClass("shape_class", 5), asLong("width"), asLong("height"))
    }),

    "mm_pbm_bitmaps" -> ((s, dir) => {
      val toPbm = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        ImageCodec.encodePbm(8, 8,
          (x, y) => (src((y * 8 + x) % src.length) & 1) == 1,
          ascii = id % 2 == 1)
      })
      featureRows(decoded(docs(s, dir), toPbm(col("doc_id"), col("text")),
          Left(ImageCodec.kernel(4, 4))),
        docClass("ascii_class", 2))
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
      featureRows(decoded(docs(s, dir), toTiff(col("doc_id"), col("text")),
          Left(ImageCodec.kernel(4, 4))),
        docClass("container_class", 4))
    }),

    "mm_gif_animated" -> ((s, dir) => {
      val decodeFrames = udf((id: Long, text: String) => {
        val frames = walkFrames(text, 3)
        val enc = ImageCodec.encodeGifAnimated(8, 8, frames, delayCs = 4)
        ImageCodec.decodeGifFrames(enc)
          .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq)
      })
      frameFeatureRows(Tables.docs(s, dir)
        .select(col("doc_id"), posexplode(decodeFrames(col("doc_id"), col("text")))),
        "frame")
    }),

    "mm_flac_wasted" -> ((s, dir) => {
      val toFlac = udf((id: Long, text: String) =>
        FlacCodec.flacFromBytes(16000, 256, MultimodalOps.asciiBytes(text),
          lpcOrder = if (id % 2 == 1) 8 else 0, detectWasted = true))
      featureRows(decoded(docs(s, dir), toFlac(col("doc_id"), col("text")), Right(16)),
        asLong("sample_rate"), col("n_samples"))
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
      featureRows(decoded(docs(s, dir), toWav(col("doc_id"), col("text")), Right(16)),
        docClass("stereo_class", 2), col("n_samples"))
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
      featureRows(decoded(docs(s, dir), toPnm(col("doc_id"), col("text")),
          Left(ImageCodec.kernel(4, 4))),
        docClass("fmt_class", 4))
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
      featureRows(decoded(docs(s, dir), toBmp(col("doc_id"), col("text")),
          Left(ImageCodec.kernel(4, 4))),
        docClass("shape_class", 4))
    }),

    "mm_y4m_frames" -> ((s, dir) => {
      val decodeFrames = udf((id: Long, text: String) => {
        val frames = walkFrames(text, 3)
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
          asLong("frame"), posexplode(col("col")))
        .select(col("doc_id"), col("chroma_class"), col("frame"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    "mm_y4m_frame_dedup" -> ((s, dir) => {
      val frames = y4mFrameHashes(Tables.docs(s, dir)).persist()
      graft.core.CacheScope.register(frames)
      framePairsWithin(frames)
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
      featureRows(decoded(docs(s, dir), toAudio(col("doc_id"), col("text")), Right(16)),
        col("byte_len"), docClass("container_class", 2), col("n_samples"))
    }),

    "mm_y4m_scene_cuts" -> ((s, dir) =>
      MultimodalOps.sceneCuts(sceneFrames(s, dir), col("doc_id"),
          col("frame"), col("features"), threshold = 64.0)
        .select(col("doc_id"), col("frame"), round(col("dist"), 6)
          .as("dist"), col("is_cut"), col("scene"))),

    // keyframe sampling = the first frame of every scene: the frames a
    // vision pipeline keeps (one representative per scene)
    "mm_y4m_keyframes" -> ((s, dir) =>
      MultimodalOps.sceneCuts(sceneFrames(s, dir), col("doc_id"),
          col("frame"), col("features"), threshold = 64.0)
        .where(col("is_cut"))
        .select(col("doc_id"), col("frame"), col("scene"))),

    "mm_y4m_frame_neardup" -> ((s, dir) => {
      val frameFeats = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        def base(f: Int)(x: Int, y: Int): Int =
          src((y * 8 + x + 29 * f) % src.length) & 0xff
        val frames: Seq[(Int, Int) => Int] = Seq(
          base(0) _, base(1) _,
          // the planted near-identical frame: frame 0 re-encoded with a
          // one-pixel brightness nudge (printable bytes ≤ 126, so +1
          // never wraps)
          (x: Int, y: Int) =>
            if (x == 0 && y == 0) (base(0)(x, y) + 1) % 256
            else base(0)(x, y))
        VideoCodec.decodeY4mFrames(
          VideoCodec.encodeY4m(8, 8, frames, chroma = "420"))
          .map(r => ImageCodec.rasterFeatures(r, 8, 8).toSeq)
      })
      // (doc, frame) packed into one key: doc·4 + frame (frame < 4), so
      // the banded join's key ordering is lexicographic (doc, frame)
      val perFrame = Tables.docs(s, dir)
        .select(col("doc_id"),
          posexplode(frameFeats(col("doc_id"), col("text"))))
        .select((col("doc_id") * 4 + col("pos")).as("key"),
          col("col").as("features"))
      MultimodalOps.aHashBandedPairs(perFrame, col("key"),
          bits = 64, bands = 4, maxHamming = 3)
        .select(
          shiftrightunsigned(col("doc_a"), 2).as("doc_a"),
          col("doc_a").bitwiseAND(lit(3L)).as("frame_a"),
          shiftrightunsigned(col("doc_b"), 2).as("doc_b"),
          col("doc_b").bitwiseAND(lit(3L)).as("frame_b"),
          col("hamming"))
    }),

    "mm_gif_disposal" -> ((s, dir) => {
      val compFeats = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        def at(i: Int): Int = src(i % src.length) & 0xff
        val frames = Seq(
          ImageCodec.GifFrame(0, 0, 8, 8, 1, (x, y) => at(y * 8 + x)),
          ImageCodec.GifFrame(2, 2, 4, 4, 2,
            (u, v) => at(v * 4 + u + 64)),
          ImageCodec.GifFrame(0, 4, 4, 4, 3,
            (u, v) => at(v * 4 + u + 96)),
          ImageCodec.GifFrame(4, 0, 4, 4, 1,
            (u, v) => at(v * 4 + u + 128)))
        compositeFeatures(frames)
      })
      frameFeatureRows(Tables.docs(s, dir)
        .select(col("doc_id"), posexplode(compFeats(col("doc_id"), col("text")))),
        "frame")
    }),

    // cross-container conformance: the SAME frames through both video
    // containers (Y4M raw planes vs AVI DIB rows) must decode
    // BIT-EQUAL per frame — any slip in either container's geometry
    // (row order, padding, plane sizes) breaks the in-row equality
    "mm_video_containers" -> ((s, dir) => {
      val biteq = udf((id: Long, text: String) => {
        val frames = walkFrames(text, 3)
        val y4m = VideoCodec.decodeY4mFrames(
          VideoCodec.encodeY4m(8, 8, frames, chroma = "420"))
        val avi = VideoCodec.decodeAviFrames(
          VideoCodec.encodeAvi(8, 8, frames))
        frames.indices.map(f =>
          java.util.Arrays.equals(y4m(f).lumaSum3, avi(f).lumaSum3))
      })
      Tables.docs(s, dir)
        .select(col("doc_id"),
          posexplode(biteq(col("doc_id"), col("text"))))
        .select(col("doc_id"), col("pos").cast("long").as("frame"),
          lit(8L).as("width"), lit(8L).as("height"),
          col("col").as("y4m_equals_avi"))
    }),

    // the SAME temporal operator across modalities: audio segmentation
    // over the 16-frame energy envelope (speech-corpus segment
    // splitting) — sceneCuts is generic over (doc, idx, features)
    "mm_wav_segments" -> ((s, dir) => {
      val toWav = udf((text: String) =>
        graft.ops.AudioCodec.wavFromBytes(16000, 256,
          MultimodalOps.asciiBytes(text)))
      val env = decoded(docs(s, dir), toWav(col("text")), Right(16))
        .select(col("doc_id"), posexplode(col("features")))
        .select(col("doc_id"), col("pos").cast("long").as("frame"),
          array(col("col")).as("features"))
      MultimodalOps.sceneCuts(env, col("doc_id"), col("frame"),
          col("features"), threshold = 2000.0)
        .select(col("doc_id"), col("frame"),
          round(col("dist"), 6).as("dist"), col("is_cut"),
          col("scene").as("segment"))
    }),

    // clip-level video near-dup over the standard 3-frame fixture: doc
    // pairs sharing ≥1 distinct frame, with the shared count and the
    // Jaccard over distinct-frame sets — the trimmed-copy shape
    "mm_video_clip_dedup" -> ((s, dir) =>
      MultimodalOps.clipOverlapPairs(
        y4mFrameHashes(Tables.docs(s, dir).select(col("doc_id"),
          col("text"))),
        col("doc_id"), col("luma"))),

    "mm_avi_frames" -> ((s, dir) => {
      val decodeFrames = udf((id: Long, text: String) => {
        val frames = walkFrames(text, 3)
        val payload = VideoCodec.encodeAvi(8, 8, frames)
        (payload.length,
          VideoCodec.decodeAviFrames(payload)
            .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq))
      })
      frameFeatureRows(Tables.docs(s, dir)
        .select(col("doc_id"),
          decodeFrames(col("doc_id"), col("text")).as("d"))
        .select(col("doc_id"), col("d._1").cast("long").as("byte_len"),
          posexplode(col("d._2"))), "frame", "byte_len")
    }),

    "mm_avi_mjpeg" -> ((s, dir) => {
      val biteq = udf((id: Long, text: String) => {
        val frames = walkFrames(text, 3)
        val dec = VideoCodec.decodeAviFrames(
          VideoCodec.encodeAvi(8, 8, frames, codec = "MJPG"))
        frames.indices.map { f =>
          val direct = graft.ops.JpegCodec.decode(
            graft.ops.JpegCodec.encode(8, 8, frames(f)))
          java.util.Arrays.equals(dec(f).lumaSum3, direct.lumaSum3)
        }
      })
      Tables.docs(s, dir)
        .select(col("doc_id"), posexplode(biteq(col("doc_id"), col("text"))))
        .select(col("doc_id"), col("pos").cast("long").as("frame"),
          lit(8L).as("width"), lit(8L).as("height"),
          col("col").as("avi_equals_jpeg"))
    }),

    "mm_gif_transparency" -> ((s, dir) => {
      val compFeats = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        def at(i: Int): Int = src(i % src.length) & 0xff
        // T=31 is below the printable-ASCII floor (32), so an opaque
        // text byte can never collide with the hole index
        val T = 31
        val frames = Seq(
          ImageCodec.GifFrame(0, 0, 8, 8, 1, (x, y) => at(y * 8 + x)),
          ImageCodec.GifFrame(0, 0, 8, 8, 1,
            (x, y) => if ((x + y) % 3 == 0) T else at(y * 8 + x + 64),
            transparent = Some(T)),
          ImageCodec.GifFrame(2, 2, 4, 4, 1,
            (u, v) => if ((u + v) % 2 == 0) T else at(v * 4 + u + 128),
            transparent = Some(T)))
        compositeFeatures(frames)
      })
      frameFeatureRows(Tables.docs(s, dir)
        .select(col("doc_id"), posexplode(compFeats(col("doc_id"), col("text")))),
        "frame")
    }),

    "mm_y4m_interlaced" -> ((s, dir) => {
      val fieldFeats = udf((id: Long, text: String) => {
        val frames = walkFrames(text, 2)
        VideoCodec.decodeY4mFrames(VideoCodec.encodeY4m(8, 8, frames,
            chroma = "420", interlace = if (id % 2 == 0) "t" else "b"))
          .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq)
      })
      frameFeatureRows(Tables.docs(s, dir)
        .select(col("doc_id"), posexplode(fieldFeats(col("doc_id"), col("text")))),
        "field")
    }),

    "mm_avi_rec" -> ((s, dir) => {
      val biteq = udf((id: Long, text: String) => {
        val frames = walkFrames(text, 3)
        val flat = VideoCodec.decodeAviFrames(
          VideoCodec.encodeAvi(8, 8, frames))
        val rec = VideoCodec.encodeAvi(8, 8, frames, recGroup = 2,
          junkPad = true)
        val dec = VideoCodec.decodeAviFrames(rec)
        (rec.length, frames.indices.map(f =>
          java.util.Arrays.equals(dec(f).lumaSum3, flat(f).lumaSum3)))
      })
      Tables.docs(s, dir)
        .select(col("doc_id"), biteq(col("doc_id"), col("text")).as("d"))
        .select(col("doc_id"), col("d._1").cast("long").as("byte_len"),
          posexplode(col("d._2")))
        .select(col("doc_id"), col("byte_len"),
          col("pos").cast("long").as("frame"),
          col("col").as("rec_equals_flat"))
    }),

    "mm_avi_mjpeg_notables" -> ((s, dir) => {
      val biteq = udf((id: Long, text: String) => {
        val frames = walkFrames(text, 3)
        val full = VideoCodec.encodeAvi(8, 8, frames, codec = "MJPG")
        val stripped = VideoCodec.encodeAvi(8, 8, frames, codec = "MJPG",
          stripTables = true)
        val dec = VideoCodec.decodeAviFrames(stripped)
        ((full.length - stripped.length) / frames.length,
          frames.indices.map { f =>
            val direct = JpegCodec.decode(JpegCodec.encode(8, 8, frames(f)))
            java.util.Arrays.equals(dec(f).lumaSum3, direct.lumaSum3)
          })
      })
      Tables.docs(s, dir)
        .select(col("doc_id"), biteq(col("doc_id"), col("text")).as("d"))
        .select(col("doc_id"),
          col("d._1").cast("long").as("dht_bytes_per_frame"),
          posexplode(col("d._2")))
        .select(col("doc_id"), col("dht_bytes_per_frame"),
          col("pos").cast("long").as("frame"),
          col("col").as("notables_equals_direct"))
    }),

    "mm_jpeg_prog420_decode" -> ((s, dir) => {
      val biteq = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        // cycle exact-MCU (16×16), sub-MCU (8×8: luma padded grid 2×2
        // vs ceil grid 1×1) and non-multiple-of-16 (24×16) shapes
        val (w, h) = (id % 3) match {
          case 0 => (16, 16); case 1 => (8, 8); case _ => (24, 16)
        }
        val prog = JpegCodec.decode(JpegCodec.prog420Jpeg(w, h, src))
        val seq = JpegCodec.decode(JpegCodec.color420Jpeg(w, h, src))
        (w, h, java.util.Arrays.equals(prog.lumaSum3, seq.lumaSum3))
      })
      Tables.docs(s, dir)
        .select(col("doc_id"), biteq(col("doc_id"), col("text")).as("d"))
        .select(col("doc_id"), col("d._1").cast("long").as("width"),
          col("d._2").cast("long").as("height"),
          col("d._3").as("prog_equals_seq"))
    }),

    "mm_clip_dedup_digest" -> ((s, dir) => {
      // the SAME frame derivation as mm_video_clip_dedup
      // ([[y4mFrameHashes]] — one copy of the fixture formula),
      // keyed on the production 128-bit digest __k = md5(luma):
      // O(16 bytes) per frame regardless of frame size
      val fr = y4mFrameHashes(Tables.docs(s, dir))
        .select(col("doc_id"), col("__k"))
      MultimodalOps.clipOverlapPairs(fr, col("doc_id"), col("__k"))
    })
  )

  /** The all-pairs frame-dedup oracle: (doc, frame) pairs of the three
    * 64-pixel Y4M frames whose luma agrees, ordered lexicographically; the
    * CTE names start with `p`. */
  private[queries] def y4mFramePairsSql(p: String): String =
    s"""WITH ${p}a AS (SELECT doc_id,
      |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
      |  FROM documents),
      |${p}f AS (SELECT doc_id, text,
      |    unnest(generate_series(0, 2)) AS frame FROM ${p}a),
      |${p}v AS (
      |  SELECT doc_id, frame,
      |    list_transform(generate_series(0, 63), j ->
      |      ascii(substr(text,
      |        (((j + 29 * frame) % length(text)) + 1)::INT, 1))) AS v
      |  FROM ${p}f)
      |SELECT x.doc_id AS doc_a, x.frame::BIGINT AS frame_a,
      |  y.doc_id AS doc_b, y.frame::BIGINT AS frame_b
      |FROM ${p}v x JOIN ${p}v y
      |  ON x.v = y.v AND (x.doc_id < y.doc_id OR
      |    (x.doc_id = y.doc_id AND x.frame < y.frame))""".stripMargin

  def oracles: Map[String, String] = Map(

    "mm_metadata" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
        |       hex(encode(substr(text, 1, 8))) AS header_hex
        |FROM documents""".stripMargin,

    "mm_frames" ->
      """WITH fr AS (SELECT unnest(generate_series(0, 3)) AS frame)
        |SELECT doc_id, frame,
        |       md5(substr(text, frame * 32 + 1, 32)) AS frame_hash
        |FROM documents CROSS JOIN fr""".stripMargin,

    "mm_resize" ->
      """WITH j AS (SELECT unnest(generate_series(0, 1)) AS j),
        |d AS (SELECT doc_id, md5(text) AS h FROM documents)
        |SELECT doc_id, CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
        |       j.j AS j,
        |       ('0x' || substr(h, (j.j * 2) * 2 + 1, 2))::INT / 255.0 AS feat
        |FROM d CROSS JOIN j""".stripMargin,

    "mm_decode" ->
      """WITH j AS (SELECT unnest(generate_series(0, 3)) AS j),
        |d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS h
        |  FROM documents
        |)
        |SELECT doc_id, byte_len,
        |  CAST(64 + (('0x' || substr(h, 1, 2))::INT & 63) AS BIGINT) AS width,
        |  CAST(64 + (('0x' || substr(h, 3, 2))::INT & 63) AS BIGINT) AS height,
        |  j.j AS j,
        |  ('0x' || substr(h, j.j * 2 + 1, 2))::INT / 255.0 AS feat
        |FROM d CROSS JOIN j""".stripMargin,

    "mm_ahash_pairs" ->
      s"""WITH $AHashSql
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.ahash
         |FROM a x JOIN a y ON x.ahash = y.ahash AND x.doc_id < y.doc_id""".stripMargin,

    // banding at 4 bands is lossless for Hamming <= 3, so the ground truth
    // is the direct all-pairs Hamming filter over the same aHash
    "mm_ahash_banded" ->
      ahashPairsSql(AHashSql),

    "mm_frame_dedup" ->
      """WITH fr AS (
        |  SELECT DISTINCT doc_id,
        |    md5(substr(text, i * 32 + 1, 32)) AS frame_hash
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i)
        |  WHERE length(substr(text, i * 32 + 1, 32)) > 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*)::BIGINT AS shared_frames
        |FROM fr a JOIN fr b
        |  ON a.frame_hash = b.frame_hash AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 2""".stripMargin,

    // byte_len is the container size: BMP = 54-byte headers + 24-byte
    // padded rows × 8; PPM = 11-byte "P6\n8 8\n255\n" header + 192
    "mm_real_decode" ->
      s"""WITH $RealFeatSql
         |SELECT doc_id,
         |  (CASE WHEN doc_id % 2 = 1 THEN 203 ELSE 246 END)::BIGINT
         |    AS byte_len,
         |  8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_real_ahash_banded" ->
      ahashPairsSql(RealAHash64Sql),

    // nearest map at dim 16 → 4: source index floor(j·16/4) = 4j
    "mm_real_resize" ->
      s"""WITH $RealFeatSql
         |SELECT doc_id, 4::BIGINT AS width, 4::BIGINT AS height,
         |  (j // 4) AS j, feat
         |FROM rf WHERE j % 4 = 0""".stripMargin,

    // byte_len = 44-byte canonical header + 2·256 sample bytes
    "mm_wav_decode" ->
      s"""WITH $WavFeatSql
         |SELECT doc_id, 556::BIGINT AS byte_len,
         |  16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
         |  j, feat
         |FROM wf""".stripMargin,

    "mm_wav_ahash_banded" ->
      ahashPairsSql(WavAHash64Sql),

    "mm_png_decode" ->
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_png_ahash_banded" ->
      ahashPairsSql(RealAHash64Sql),

    "mm_gif_decode" ->
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_gif_ahash_banded" ->
      ahashPairsSql(RealAHash64Sql),

    "mm_jpeg_decode" ->
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS within_bound
        |FROM documents""".stripMargin,

    "mm_jpeg_color_decode" ->
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS within_bound
        |FROM documents""".stripMargin,

    "mm_jpeg420_decode" ->
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS within_bound
        |FROM documents""".stripMargin,

    "mm_jpeg_prog_decode" ->
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS prog_equals_seq
        |FROM documents""".stripMargin,

    "mm_jpeg_sa_decode" ->
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS sa_equals_seq
        |FROM documents""".stripMargin,

    "mm_jpeg_ahash_banded" ->
      s"""WITH $SrcPxSql
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  0::BIGINT AS hamming
         |FROM px x JOIN px y
         |  ON x.doc_id < y.doc_id AND x.pv = y.pv""".stripMargin,

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
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_bmp_shapes" ->
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_gif_interlaced" ->
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_png_interlaced" ->
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_tiff_decode" ->
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_flac_decode" ->
      s"""WITH ${WavFeatSql}
         |SELECT doc_id, 16000::BIGINT AS sample_rate,
         |  256::BIGINT AS n_samples, j, feat
         |FROM wf""".stripMargin,

    // stereo: 44 + 4·256; 8-bit: 44 + 256; 24-bit: 44 + 3·256
    "mm_wav_formats" ->
      s"""WITH ${WavFeatSql}
         |SELECT doc_id,
         |  (CASE doc_id % 3 WHEN 0 THEN 1068 WHEN 1 THEN 300
         |   ELSE 812 END)::BIGINT AS byte_len,
         |  16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
         |  j, feat
         |FROM wf""".stripMargin,

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
      s"""WITH ${RealFeatSql}
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
      s"""WITH ${WavFeatSql}
         |SELECT doc_id, 16000::BIGINT AS sample_rate,
         |  256::BIGINT AS n_samples, j, feat
         |FROM wf""".stripMargin,

    // mono envelope on even ids; stereo (L+R)>>1 downmix envelope on
    // odd — both CTE families compose (disjoint names)
    "mm_wav_extensible" ->
      s"""WITH ${WavFeatSql},
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
      s"""WITH ${RealFeatSql}
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
    "mm_y4m_frame_dedup" -> y4mFramePairsSql("fd"),

    // AU = 24-byte header + 512 sample bytes; AIFF = FORM(12) +
    // COMM(8+18) + SSND(8 + 8 prelude + 512)
    "mm_au_aiff" ->
      s"""WITH ${WavFeatSql}
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
        |FROM gav GROUP BY 1, 2, gy, gx""".stripMargin,

    "mm_y4m_scene_cuts" ->
      s"""WITH $SceneCutSql
         |SELECT doc_id, frame::BIGINT AS frame, round(dist, 6) AS dist,
         |  is_cut, scene
         |FROM scs""".stripMargin,

    "mm_y4m_keyframes" ->
      s"""WITH $SceneCutSql
         |SELECT doc_id, frame::BIGINT AS frame, scene
         |FROM scs WHERE is_cut""".stripMargin,

    // brute-force hamming-≤3 over per-frame aHashes: 4-band blocking is
    // pigeonhole-exact at maxHamming 3, so banded == brute force
    "mm_y4m_frame_neardup" ->
      s"""WITH $FrameAHashSql
         |SELECT x.doc_id AS doc_a, x.frame::BIGINT AS frame_a,
         |  y.doc_id AS doc_b, y.frame::BIGINT AS frame_b,
         |  bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
         |FROM nda x JOIN nda y
         |  ON (x.doc_id < y.doc_id OR
         |    (x.doc_id = y.doc_id AND x.frame < y.frame))
         |WHERE bit_count(xor(x.ahash, y.ahash)) <= 3""".stripMargin,

    // each composited canvas in closed form: frame 0 = the full base;
    // frame 1 overlays the (2,2) patch; frames 2/3 composite over the
    // disposal-2-cleared rect (0 = background) because frame 1's
    // disposal ran and frame 2's disposal-3 restore un-drew frame 2
    "mm_gif_disposal" ->
      """WITH gda AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS ptext
        |  FROM documents),
        |gdf AS (SELECT doc_id, ptext,
        |    unnest(generate_series(0, 3)) AS frame FROM gda),
        |gdy AS (SELECT doc_id, ptext, frame,
        |    unnest(generate_series(0, 7)) AS y FROM gdf),
        |gdxy AS (SELECT doc_id, ptext, frame, y,
        |    unnest(generate_series(0, 7)) AS x FROM gdy),
        |gdv AS (
        |  SELECT doc_id, frame, (y // 2) AS gy, (x // 2) AS gx,
        |    CASE
        |      WHEN frame = 0 THEN ascii(substr(ptext,
        |        (((y * 8 + x) % length(ptext)) + 1)::INT, 1))
        |      WHEN frame = 1 THEN
        |        CASE WHEN x BETWEEN 2 AND 5 AND y BETWEEN 2 AND 5
        |          THEN ascii(substr(ptext,
        |            (((64 + (y - 2) * 4 + (x - 2)) % length(ptext))
        |              + 1)::INT, 1))
        |          ELSE ascii(substr(ptext,
        |            (((y * 8 + x) % length(ptext)) + 1)::INT, 1)) END
        |      WHEN frame = 2 THEN
        |        CASE WHEN x <= 3 AND y >= 4
        |          THEN ascii(substr(ptext,
        |            (((96 + (y - 4) * 4 + x) % length(ptext))
        |              + 1)::INT, 1))
        |          WHEN x BETWEEN 2 AND 5 AND y BETWEEN 2 AND 5 THEN 0
        |          ELSE ascii(substr(ptext,
        |            (((y * 8 + x) % length(ptext)) + 1)::INT, 1)) END
        |      ELSE
        |        CASE WHEN x >= 4 AND y <= 3
        |          THEN ascii(substr(ptext,
        |            (((128 + y * 4 + (x - 4)) % length(ptext))
        |              + 1)::INT, 1))
        |          WHEN x BETWEEN 2 AND 5 AND y BETWEEN 2 AND 5 THEN 0
        |          ELSE ascii(substr(ptext,
        |            (((y * 8 + x) % length(ptext)) + 1)::INT, 1)) END
        |    END AS v
        |  FROM gdxy)
        |SELECT doc_id, frame::BIGINT AS frame,
        |  (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(v)::DOUBLE / count(*), 6) AS feat
        |FROM gdv GROUP BY 1, 2, gy, gx""".stripMargin,

    // in-row cross-container equality (the mm_au_aiff discipline
    // applied to video)
    "mm_video_containers" ->
      """WITH f AS (SELECT doc_id,
        |    unnest(generate_series(0, 2)) AS frame FROM documents)
        |SELECT doc_id, frame::BIGINT AS frame, 8::BIGINT AS width,
        |  8::BIGINT AS height, true AS y4m_equals_avi
        |FROM f""".stripMargin,

    // the WavFeatSql envelope (exact /16 means) through the same lag
    // window as the video scene cuts
    "mm_wav_segments" ->
      s"""WITH ${WavFeatSql},
         |wsd AS (SELECT doc_id, j AS frame, feat,
         |    lag(feat) OVER (PARTITION BY doc_id ORDER BY j) AS prev
         |  FROM wf),
         |wse AS (SELECT doc_id, frame,
         |    CASE WHEN prev IS NULL THEN -1.0
         |      ELSE abs(feat - prev) END AS dist
         |  FROM wsd),
         |wsc AS (SELECT doc_id, frame, dist,
         |    (dist < 0 OR dist > 2000.0) AS is_cut FROM wse)
         |SELECT doc_id, frame::BIGINT AS frame, round(dist, 6) AS dist,
         |  is_cut,
         |  (sum(CASE WHEN is_cut THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY frame) - 1)::BIGINT
         |    AS segment
         |FROM wsc""".stripMargin,

    // distinct frame sets per doc, intersection via the equality join,
    // Jaccard against the per-doc distinct counts
    "mm_video_clip_dedup" ->
      """WITH cda AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |cdf AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM cda),
        |cdv AS (
        |  SELECT DISTINCT doc_id,
        |    list_transform(generate_series(0, 63), j ->
        |      ascii(substr(text,
        |        (((j + 29 * frame) % length(text)) + 1)::INT, 1))) AS v
        |  FROM cdf),
        |csz AS (SELECT doc_id, count(*) AS n FROM cdv GROUP BY 1),
        |cpx AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    count(*) AS shared
        |  FROM cdv x JOIN cdv y ON x.v = y.v AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, shared::BIGINT AS shared,
        |  round(shared::DOUBLE / (sa.n + sb.n - shared), 6) AS jaccard
        |FROM cpx
        |JOIN csz sa ON sa.doc_id = doc_a
        |JOIN csz sb ON sb.doc_id = doc_b""".stripMargin,

    // AVI DIB is lossless: the per-frame text replay of the animated
    // tiers, plus the container's exact byte length (RIFF 12 +
    // LIST hdrl 200 + LIST movi 612 = 824 — asserted in R19AviSpec)
    "mm_avi_frames" ->
      """WITH ava AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |avf AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM ava),
        |avy AS (SELECT doc_id, text, frame,
        |    unnest(generate_series(0, 7)) AS y FROM avf),
        |avxy AS (SELECT doc_id, text, frame, y,
        |    unnest(generate_series(0, 7)) AS x FROM avy),
        |avv AS (
        |  SELECT doc_id, frame, (y // 2) AS gy, (x // 2) AS gx,
        |    ascii(substr(text,
        |      (((y * 8 + x + 29 * frame) % length(text)) + 1)::INT, 1))
        |      AS v
        |  FROM avxy)
        |SELECT doc_id, 824::BIGINT AS byte_len, frame::BIGINT AS frame,
        |  (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(v)::DOUBLE / count(*), 6) AS feat
        |FROM avv GROUP BY 1, 2, 3, gy, gx""".stripMargin,

    // MJPG entropy coding is per-frame JPEG: the strongest oracle a
    // lossy container admits is in-row bit-equality to the direct
    // decode (the mm_jpeg_prog_decode pattern)
    "mm_avi_mjpeg" ->
      """WITH f AS (SELECT doc_id,
        |    unnest(generate_series(0, 2)) AS frame FROM documents)
        |SELECT doc_id, frame::BIGINT AS frame, 8::BIGINT AS width,
        |  8::BIGINT AS height, true AS avi_equals_jpeg
        |FROM f""".stripMargin,

    // the holes replay in closed form: frame 1's lattice shows the
    // base through, frame 2's patch composites over frame 1 with its
    // own hole parity ((u+v)%2 == (x+y)%2 under the (2,2) offset)
    "mm_gif_transparency" ->
      """WITH gta AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS ptext
        |  FROM documents),
        |gtf AS (SELECT doc_id, ptext,
        |    unnest(generate_series(0, 2)) AS frame FROM gta),
        |gty AS (SELECT doc_id, ptext, frame,
        |    unnest(generate_series(0, 7)) AS y FROM gtf),
        |gtxy AS (SELECT doc_id, ptext, frame, y,
        |    unnest(generate_series(0, 7)) AS x FROM gty),
        |gtv AS (
        |  SELECT doc_id, frame, (y // 2) AS gy, (x // 2) AS gx,
        |    CASE
        |      WHEN frame = 0 THEN ascii(substr(ptext,
        |        (((y * 8 + x) % length(ptext)) + 1)::INT, 1))
        |      WHEN frame = 1 THEN
        |        CASE WHEN (x + y) % 3 = 0 THEN ascii(substr(ptext,
        |            (((y * 8 + x) % length(ptext)) + 1)::INT, 1))
        |          ELSE ascii(substr(ptext,
        |            (((y * 8 + x + 64) % length(ptext)) + 1)::INT, 1))
        |          END
        |      ELSE
        |        CASE WHEN x BETWEEN 2 AND 5 AND y BETWEEN 2 AND 5
        |            AND (x + y) % 2 = 1
        |          THEN ascii(substr(ptext,
        |            (((128 + (y - 2) * 4 + (x - 2)) % length(ptext))
        |              + 1)::INT, 1))
        |          WHEN (x + y) % 3 = 0 THEN ascii(substr(ptext,
        |            (((y * 8 + x) % length(ptext)) + 1)::INT, 1))
        |          ELSE ascii(substr(ptext,
        |            (((y * 8 + x + 64) % length(ptext)) + 1)::INT, 1))
        |          END
        |    END AS v
        |  FROM gtxy)
        |SELECT doc_id, frame::BIGINT AS frame,
        |  (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(v)::DOUBLE / count(*), 6) AS feat
        |FROM gtv GROUP BY 1, 2, gy, gx""".stripMargin,

    // per-FIELD features in closed form: field fi of doc d reads stored
    // frame fi/2 at row parity (It: fi%2; Ib: 1−fi%2), and each 4×4
    // grid cell over the 8×4 field raster is the mean of two adjacent
    // pixels in one field row
    "mm_y4m_interlaced" ->
      """WITH ia AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS ptext
        |  FROM documents),
        |iff AS (SELECT doc_id, ptext,
        |    unnest(generate_series(0, 3)) AS field FROM ia),
        |ifj AS (SELECT doc_id, ptext, field,
        |    unnest(generate_series(0, 15)) AS j FROM iff),
        |ifv AS (SELECT doc_id, field, j,
        |    (field // 2) AS f,
        |    CASE WHEN doc_id % 2 = 0 THEN field % 2
        |      ELSE 1 - (field % 2) END AS par,
        |    (j // 4) AS gy, (j % 4) AS gx, ptext
        |  FROM ifj),
        |ife AS (SELECT doc_id, field, j,
        |    (ascii(substr(ptext, ((((2 * gy + par) * 8 + 2 * gx + 29 * f)
        |        % length(ptext)) + 1)::INT, 1)) +
        |     ascii(substr(ptext, ((((2 * gy + par) * 8 + 2 * gx + 1
        |        + 29 * f) % length(ptext)) + 1)::INT, 1))) / 2.0 AS feat
        |  FROM ifv)
        |SELECT doc_id, field::BIGINT AS field, j::BIGINT AS j,
        |  round(feat, 6) AS feat
        |FROM ife""".stripMargin,

    // bit-equality is asserted in-row; the grouped container's length
    // replays in closed form: RIFF(12) + hdrl(8+192) + movi(8+4 +
    // rec(12+2·212) + rec(12+212)) = 884 (frameCost 212 = JUNK 12 +
    // hdr 8 + DIB 192)
    "mm_avi_rec" ->
      """WITH f AS (SELECT doc_id,
        |    unnest(generate_series(0, 2)) AS frame FROM documents)
        |SELECT doc_id, 884::BIGINT AS byte_len, frame::BIGINT AS frame,
        |  true AS rec_equals_flat
        |FROM f""".stripMargin,

    // each stripped gray frame loses exactly the Annex-K luma DHT pair:
    // DC (2+2+1+16+12 = 33) + AC (2+2+1+16+162 = 183) = 216 bytes
    "mm_avi_mjpeg_notables" ->
      """WITH f AS (SELECT doc_id,
        |    unnest(generate_series(0, 2)) AS frame FROM documents)
        |SELECT doc_id, 216::BIGINT AS dht_bytes_per_frame,
        |  frame::BIGINT AS frame, true AS notables_equals_direct
        |FROM f""".stripMargin,

    "mm_jpeg_prog420_decode" ->
      """SELECT doc_id,
        |  (CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 8
        |    ELSE 24 END)::BIGINT AS width,
        |  (CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 8
        |    ELSE 16 END)::BIGINT AS height,
        |  true AS prog_equals_seq
        |FROM documents""".stripMargin,

    // digest equality == luma equality (no collisions at corpus scale
    // that matter for the gate), so the oracle is the SAME brute-force
    // luma-set SQL as mm_video_clip_dedup
    "mm_clip_dedup_digest" ->
      """WITH cga AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |cgf AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM cga),
        |cgv AS (
        |  SELECT DISTINCT doc_id,
        |    list_transform(generate_series(0, 63), j ->
        |      ascii(substr(text,
        |        (((j + 29 * frame) % length(text)) + 1)::INT, 1))) AS v
        |  FROM cgf),
        |cgz AS (SELECT doc_id, count(*) AS n FROM cgv GROUP BY 1),
        |cgp AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    count(*) AS shared
        |  FROM cgv x JOIN cgv y ON x.v = y.v AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, shared::BIGINT AS shared,
        |  round(shared::DOUBLE / (sa.n + sb.n - shared), 6) AS jaccard
        |FROM cgp
        |JOIN cgz sa ON sa.doc_id = doc_a
        |JOIN cgz sb ON sb.doc_id = doc_b""".stripMargin
  )
}
