package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{ImageCodec, MultimodalOps}

/** Round-16j: PNG — the first COMPRESSED container behind the multimodal
  * seam.  Same deterministic text→8×8 gray raster as the BMP/PPM tier
  * (R16bQueries), but encoded to real PNG bytes: zlib-DEFLATE IDAT,
  * CRC-verified chunk walk, and per-row filters — color type alternates
  * gray/truecolor by doc parity and the row filter cycles through all
  * five kinds (None/Sub/Up/Average/Paeth) by doc_id mod 5, so ONE
  * oracle-gated corpus sweep exercises every decode path.  The oracle
  * recomputes block means straight from the text: any inflate, unfilter,
  * or chunk-walk slip fails the hash compare. */
object R16jQueries extends QuerySet {

  private def pngDecodedAt(s: SparkSession, dir: String,
      grid: Int): DataFrame = {
    val toImg = udf((id: Long, text: String) =>
      ImageCodec.grayPng(8, 8, MultimodalOps.asciiBytes(text),
        colorType = if (id % 2 == 0) 2 else 0,
        filter = (id % 5).toInt))
    val d = Tables.docs(s, dir)
      .withColumn("payload", toImg(col("doc_id"), col("text")))
    MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
      ImageCodec.kernel(grid, grid)).toDF()
  }

  private def pngDecoded(s: SparkSession, dir: String): DataFrame =
    pngDecodedAt(s, dir, grid = 4)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // full decode: block-mean features from real inflate+unfilter output
    // (byte_len omitted — DEFLATE output size is content-dependent)
    "mm_png_decode" -> ((s, dir) =>
      pngDecoded(s, dir)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))),

    // real-PNG near-dups: identical banded blocking as the BMP/PPM tier —
    // 64-bit per-pixel hash, 16-bit band keys (the scale-safe shape)
    "mm_png_ahash_banded" -> ((s, dir) =>
      MultimodalOps.aHashBandedPairs(
        pngDecodedAt(s, dir, grid = 8), col("doc_id"),
        bits = 64, bands = 4, maxHamming = 3))
  )

  def oracles: Map[String, String] = Map(

    "mm_png_decode" ->
      s"""WITH ${R16bQueries.RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_png_ahash_banded" ->
      s"""WITH ${R16bQueries.RealAHash64Sql}
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
         |FROM a x JOIN a y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.ahash, y.ahash)) <= 3""".stripMargin
  )
}
