package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{ImageCodec, MultimodalOps}

/** Round-16m: GIF87a behind the multimodal seam — the tier's THIRD
  * compression family (LZW dictionary coding, after DEFLATE and the
  * uncompressed containers).  Same deterministic text→8×8 gray raster
  * as the BMP/PPM/PNG tiers, rendered through real LZW with dictionary
  * hits (the synthetic docs repeat tokens, so back-references fire),
  * variable code widths, and sub-block reassembly.  Lossless, so the
  * oracle replays features hash-exactly from the text. */
object R16mQueries extends QuerySet {

  private def gifDecodedAt(s: SparkSession, dir: String,
      grid: Int): DataFrame = {
    val toImg = udf((text: String) =>
      ImageCodec.grayGif(8, 8, MultimodalOps.asciiBytes(text)))
    val d = Tables.docs(s, dir)
      .withColumn("payload", toImg(col("text")))
    MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
      ImageCodec.kernel(grid, grid)).toDF()
  }

  /** 4×4 block means — the decode query's grid (16 features). */
  private def gifDecoded(s: SparkSession, dir: String): DataFrame =
    gifDecodedAt(s, dir, grid = 4)

  /** 8×8 = per-pixel grid — the 64-bit near-dup hash's input. */
  private def gifDecoded64(s: SparkSession, dir: String): DataFrame =
    gifDecodedAt(s, dir, grid = 8)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // full decode through real LZW (byte_len omitted — compressed size
    // is content-dependent)
    "mm_gif_decode" -> ((s, dir) =>
      gifDecoded(s, dir)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))),

    // real-GIF near-dups: identical banded blocking as the other codecs —
    // 64-bit per-pixel hash, 16-bit band keys (the scale-safe shape)
    "mm_gif_ahash_banded" -> ((s, dir) =>
      MultimodalOps.aHashBandedPairs(
        gifDecoded64(s, dir), col("doc_id"),
        bits = 64, bands = 4, maxHamming = 3))
  )

  def oracles: Map[String, String] = Map(

    "mm_gif_decode" ->
      s"""WITH ${R16bQueries.RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin,

    "mm_gif_ahash_banded" ->
      s"""WITH ${R16bQueries.RealAHash64Sql}
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
         |FROM a x JOIN a y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.ahash, y.ahash)) <= 3""".stripMargin
  )
}
