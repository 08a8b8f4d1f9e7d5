package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{AudioCodec, MultimodalOps}

/** Round-16e: the REAL audio codec — each document deterministically
  * rendered as a PCM WAV (sample i = (text byte at (7i+3) mod len − 76)
  * · 256, computable independently by the SQL oracle), encoded to real
  * RIFF bytes, decoded by [[AudioCodec]] (chunk walk, fmt validation,
  * 16-bit little-endian sample reads) into 16 frame-energy features that
  * feed the SAME near-dup stage as the image tier.  The oracle never
  * sees the WAV bytes: it recomputes the envelope from the text, so a
  * decoder misreading any sample fails the hash compare. */
object R16eQueries extends QuerySet {

  private def wavDecodedAt(s: SparkSession, dir: String,
      frames: Int): DataFrame = {
    val toWav = udf((text: String) =>
      AudioCodec.wavFromBytes(16000, 256, MultimodalOps.asciiBytes(text)))
    val d = Tables.docs(s, dir)
      .withColumn("payload", toWav(col("text")))
    AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames).toDF()
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
    val d = Tables.docs(s, dir)
      .withColumn("payload", toWav(col("text")))
    AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames = 64)
      .toDF()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "mm_wav_decode" -> ((s, dir) =>
      wavDecoded(s, dir)
        .select(col("doc_id"), col("byte_len"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), posexplode(col("features")))
        .select(col("doc_id"), col("byte_len"), col("sample_rate"),
          col("n_samples"), col("pos").cast("long").as("j"),
          round(col("col"), 6).as("feat"))),

    // audio near-dups: aHash over the energy envelope, the identical
    // banded blocking as the image tier (one downstream, two codecs) —
    // 64 frames → 64-bit hash, 16-bit band keys (the scale-safe shape)
    "mm_wav_ahash_banded" -> ((s, dir) =>
      MultimodalOps.aHashBandedPairs(
        wavHeadDecoded64(s, dir), col("doc_id"),
        bits = 64, bands = 4, maxHamming = 3))
  )

  /** Envelope recomputed from the text: sample value v_i =
    * (ascii(text[(7i+3) mod len]) − 76) · 256; 16 frames × 16 samples;
    * feat = mean |v| per frame. */
  private[queries] val WavFeatSql =
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

  def oracles: Map[String, String] = Map(

    // byte_len = 44-byte canonical header + 2·256 sample bytes
    "mm_wav_decode" ->
      s"""WITH $WavFeatSql
         |SELECT doc_id, 556::BIGINT AS byte_len,
         |  16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
         |  j, feat
         |FROM wf""".stripMargin,

    "mm_wav_ahash_banded" ->
      s"""WITH $WavAHash64Sql
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
         |FROM a x JOIN a y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.ahash, y.ahash)) <= 3""".stripMargin
  )
}
