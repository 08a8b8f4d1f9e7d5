package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{ImageCodec, JpegCodec, MultimodalOps}

/** Round-17: the LOSSY codec tier — baseline sequential JPEG behind the
  * unchanged [[MultimodalOps.DecodeKernel]] seam.  Post-DCT features are
  * inexact by design, so the hash-exact text-replay oracle pattern of the
  * five lossless codecs must weaken here — to the two gauges the verdict
  * prescribed (the sketch_hll_merge invariant discipline):
  *
  *  - `mm_jpeg_decode`: per-document TOLERANCE gauge — decode the real
  *    JPEG bytes through the kernel at per-pixel granularity and assert
  *    in-row that max |decoded − source| ≤ 32 (empirical corpus max at
  *    quality 90 is 20 across sf0.001/0.01/0.1; the closed-form
  *    quantization ceiling is ~89, see [[JpegCodec.pixelErrorBound]]).
  *    The oracle replays the invariant (`true AS within_bound`), so ONE
  *    out-of-tolerance pixel anywhere in the corpus flips a row and the
  *    hash compare fails.
  *
  *  - `mm_jpeg_ahash_banded`: EXACT-DUP SURVIVAL gauge — identical
  *    rendered rasters produce identical JPEG bytes, hence identical
  *    decoded features, hence hamming-0 aHash pairs that banded blocking
  *    MUST find.  The query emits the banded pipeline's pairs restricted
  *    to raster-equal documents; the oracle computes the raster-equal
  *    pairs straight from the text, so a pair the lossy pipeline misses
  *    is a missing row (red), and any hamming ≠ 0 mismatches the oracle's
  *    constant.
  */
object R17Queries extends QuerySet {

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
  private[queries] def colorSumGauge(s: SparkSession, dir: String,
      payload: org.apache.spark.sql.expressions.UserDefinedFunction,
      bound: Double): DataFrame = {
    val d = Tables.docs(s, dir)
      .withColumn("payload", payload(col("text")))
    val dec = MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
      ImageCodec.kernel(8, 8)).toDF()
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
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        (col("max_err") <= bound).as("within_bound"))
  }

  /** shared bit-equality gauge for the lossless-recoding containers
    * (progressive / successive approximation): their decoded features
    * must equal the BASELINE SEQUENTIAL container's decode exactly,
    * per doc (`baseline` defaults to the grayscale fixture; the color
    * variants pass their own sequential twin). */
  private[queries] def bitEqualGauge(s: SparkSession, dir: String,
      payload: org.apache.spark.sql.expressions.UserDefinedFunction,
      flag: String,
      baseline: org.apache.spark.sql.expressions.UserDefinedFunction = toJpeg)
      : DataFrame = {
    val d = Tables.docs(s, dir)
    val seqDec = MultimodalOps.decodeWith(
      d.withColumn("payload", baseline(col("text"))),
      col("payload"), col("doc_id"), ImageCodec.kernel(8, 8)).toDF()
      .select(col("doc_id"), col("features").as("f_seq"))
    val otherDec = MultimodalOps.decodeWith(
      d.withColumn("payload", payload(col("text"))),
      col("payload"), col("doc_id"), ImageCodec.kernel(8, 8)).toDF()
    otherDec.join(seqDec, "doc_id")
      .select(col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        (col("features") === col("f_seq")).as(flag))
  }

  /** the sequential 4:4:4 color fixture, exposed for the progressive-
    * color twin in [[R17bQueries]]. */
  private[queries] def colorJpegUdf = toColorJpeg

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "mm_jpeg_decode" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
        .withColumn("payload", toJpeg(col("text")))
      // kernel(8, 8) over an 8×8 raster = per-PIXEL values (each grid
      // cell is one pixel; lumaSum3/3 is exactly the gray level)
      val dec = MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(8, 8)).toDF()
      withSourcePixels(dec.join(Tables.docs(s, dir), "doc_id"))
        .withColumn("max_err", expr(
          "aggregate(zip_with(features, src_px, (f, p) -> abs(f - p)), " +
            "0D, (acc, x) -> greatest(acc, x))"))
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
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
      val d = Tables.docs(s, dir)
        .withColumn("payload", toJpeg(col("text")))
      val dec = MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(8, 8)).toDF()
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
    })
  )

  /** the oracle-side pixel map (identical to R16bQueries.RealFeatSql's
    * projection, at pixel granularity over j = 0..63). */
  private val SrcPxSql =
    """pa AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS ptext FROM documents),
      |px AS (SELECT doc_id,
      |    list_transform(generate_series(0, 63), j ->
      |      ascii(substr(ptext, ((j % length(ptext)) + 1)::INT, 1)))
      |      AS pv
      |  FROM pa)""".stripMargin

  def oracles: Map[String, String] = Map(

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
         |  ON x.doc_id < y.doc_id AND x.pv = y.pv""".stripMargin
  )
}
