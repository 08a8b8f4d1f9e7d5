package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{ImageCodec, MultimodalOps}

/** Round-16b: the REAL codec behind the multimodal seam.  Each document
  * is deterministically rendered as an 8×8 gray raster (pixel (x,y) =
  * text byte at (y·8+x) mod len — computable independently by the SQL
  * oracle), encoded to actual BMP or binary-PPM bytes (format alternating
  * by doc parity so ONE query exercises both decoders), then decoded by
  * [[ImageCodec.kernel]] — real header parsing, bottom-up BGR rows, row
  * padding, pixel reads — into 4×4 block-mean features that feed the
  * SAME downstream aHash/near-dup/resize stages the stub tier proved.
  * The oracle never sees the image bytes: it recomputes the block means
  * straight from the text, so a decoder misreading any pixel fails the
  * hash compare. */
object R16bQueries extends QuerySet {

  /** docs → (doc_id, byte_len, width, height, features) through REAL
    * encode→decode.  BMP for even ids, PPM for odd. */
  private def realDecoded(s: SparkSession, dir: String): DataFrame = {
    val toImg = udf((id: Long, text: String) =>
      ImageCodec.grayFromBytes(8, 8, MultimodalOps.asciiBytes(text),
        id % 2 == 1))
    val d = Tables.docs(s, dir)
      .withColumn("payload", toImg(col("doc_id"), col("text")))
    MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
      ImageCodec.kernel(4, 4)).toDF()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "mm_real_decode" -> ((s, dir) =>
      realDecoded(s, dir)
        .select(col("doc_id"), col("byte_len"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("byte_len"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))),

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
      MultimodalOps.stubResize(realDecoded(s, dir), w = 4, h = 4, dim2 = 4)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat")))
  )

  /** Block-mean features recomputed from the text (never the bytes):
    * pixel v(x,y) = ascii(text[(y·8+x) mod len]); 2×2 cells of the 8×8
    * raster → 16 exact-quarter means.  Text goes through the printable-
    * ASCII projection FIRST — the exact SQL mirror of
    * [[graft.ops.MultimodalOps.asciiBytes]], so char indexing and byte
    * indexing agree on any input, not just ASCII corpora. */
  private[queries] val RealFeatSql =
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

  def oracles: Map[String, String] = Map(

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
      s"""WITH $RealAHash64Sql
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
         |FROM a x JOIN a y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.ahash, y.ahash)) <= 3""".stripMargin,

    // nearest map at dim 16 → 4: source index floor(j·16/4) = 4j
    "mm_real_resize" ->
      s"""WITH $RealFeatSql
         |SELECT doc_id, 4::BIGINT AS width, 4::BIGINT AS height,
         |  (j // 4) AS j, feat
         |FROM rf WHERE j % 4 = 0""".stripMargin
  )
}
