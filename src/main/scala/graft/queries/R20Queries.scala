package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{ImageCodec, JpegCodec, MultimodalOps, VideoCodec}

/** Round-20: the production video/JPEG seams the r19 verdict ranked
  * next, each oracle-gated.
  *
  *  - `mm_y4m_interlaced`: broadcast-sourced corpora arrive INTERLACED
  *    (It/Ib) — the decoder de-interlaces by FIELD SPLITTING (each
  *    stored picture = two temporally-distinct fields woven line-by-
  *    line; decoding it whole would comb every temporal fingerprint).
  *    Even docs are It (top field first), odd docs Ib, so both field
  *    dominance orders are exercised; the container stays lossless, so
  *    per-FIELD features replay hash-exactly from the text.
  *
  *  - `mm_avi_rec`: AVI files written for interleaved playback (DV
  *    capture) group frames in 'rec ' LISTs and pad with JUNK chunks —
  *    the decode must be BIT-EQUAL to the flat container's, and the
  *    grouped container's byte length has a closed form (884 for
  *    8×8×3 DIB at group 2 + per-frame JUNK) the oracle banks.
  *
  *  - `mm_avi_mjpeg_notables`: the MJPEG-in-AVI TABLE-LESS convention —
  *    capture hardware omits DHT segments from every frame (players
  *    supply the T.81 Annex-K defaults).  Each stripped frame loses
  *    exactly 216 bytes (DC 33 + AC 183) and must decode BIT-EQUAL to
  *    the direct table-carrying JPEG decode; outside the MJPG context
  *    the stripped frame stays fail-loud (R20CodecSpec).
  *
  *  - `mm_jpeg_prog420_decode`: progressive 4:2:0 — the modern web
  *    default (mozjpeg/libjpeg `-progressive`).  Entropy coding is
  *    lossless over the same quantized coefficients as the sequential
  *    4:2:0 container, so decode must equal sequential decode
  *    BIT-EXACTLY; dims cycle exact-MCU / sub-MCU / non-multiple-of-16
  *    shapes so the padded-vs-ceil block-grid seam is exercised.
  *
  *  - `mm_clip_dedup_digest`: the clip-level near-dup tier at its
  *    PRODUCTION key — a 128-bit md5 digest per frame instead of the
  *    full luma string (at 100 TB the join key must be O(16 bytes),
  *    not O(frame)).  Digest equality stands in for luma equality, so
  *    the result must equal the luma-keyed `mm_video_clip_dedup`
  *    oracle row-for-row.
  */
object R20Queries extends QuerySet {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "mm_y4m_interlaced" -> ((s, dir) => {
      val fieldFeats = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 2).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
        VideoCodec.decodeY4mFrames(VideoCodec.encodeY4m(8, 8, frames,
            chroma = "420", interlace = if (id % 2 == 0) "t" else "b"))
          .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq)
      })
      Tables.docs(s, dir)
        .select(col("doc_id"),
          posexplode(fieldFeats(col("doc_id"), col("text"))))
        .withColumnRenamed("pos", "field")
        .select(col("doc_id"), col("field").cast("long").as("field"),
          posexplode(col("col")))
        .select(col("doc_id"), col("field"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    "mm_avi_rec" -> ((s, dir) => {
      val biteq = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
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
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
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
      // (R19Queries.y4mFrameHashes — one copy of the fixture formula),
      // keyed on the production 128-bit digest __k = md5(luma):
      // O(16 bytes) per frame regardless of frame size
      val fr = R19Queries.y4mFrameHashes(Tables.docs(s, dir))
        .select(col("doc_id"), col("__k"))
      MultimodalOps.clipOverlapPairs(fr, col("doc_id"), col("__k"))
    }),

    // the r19 video-ingest loop + the r20 INDEX RETENTION policy: each
    // catch-up appends the delta's frame hashes and then lets
    // PersistedIndex.maybeCompact rewrite the fragmented index (each
    // append lands up to shuffle-partitions part files; a year of
    // catch-ups otherwise leaves thousands) — and the staged pair union
    // must STILL equal the full-corpus oracle, proving compaction
    // changes layout only, never candidates
    "pipe_video_dedup_compact" -> ((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val lake = R9Queries.runTmp + "/pvdc_lake_" + tag
      val idx = R9Queries.runTmp + "/pvdc_idx_" + tag
      val ckp = R9Queries.runTmp + "/pvdc_ckp_" + tag
      val cand = R9Queries.runTmp + "/pvdc_cand_" + tag
      if (graft.ops.LayoutOps.latestVersion(s, lake) < 0) {
        val d = Tables.docs(s, dir).select(col("doc_id"), col("text"))
        (0 until 3).foreach { k =>
          graft.ops.LayoutOps.commitAppend(d.where(col("doc_id") % 3 === k),
            lake)
          graft.ops.LayoutOps.lakeTail(s, lake, ckp) { (delta, _) =>
            val fr = R19Queries.y4mFrameHashes(delta).persist()
            graft.core.CacheScope.register(fr)
            val seeded = new java.io.File(idx.stripPrefix("file:")).exists
            val pairs =
              if (!seeded) R19Queries.framePairsWithin(fr)
              else R19Queries.framePairsAcross(s.read.parquet(idx), fr)
                .unionByName(R19Queries.framePairsWithin(fr))
            pairs.write.mode("append").parquet(cand)
            fr.write.mode("append").parquet(idx)
            // retention: maxFiles 8 forces a rewrite on every catch-up
            // at the 32-partition test shape — the compacted index is
            // what the NEXT catch-up joins against
            graft.ops.PersistedIndex.maybeCompact(s, idx, maxFiles = 8,
              targetFiles = 4)
          }
        }
      }
      s.read.parquet(cand).distinct()
    })
  )

  def oracles: Map[String, String] = Map(

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
        |JOIN cgz sb ON sb.doc_id = doc_b""".stripMargin,

    // compaction must be invisible to candidates: the same full-corpus
    // all-pairs SQL as pipe_video_dedup
    "pipe_video_dedup_compact" ->
      """WITH pca AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |pcf AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM pca),
        |pcv AS (
        |  SELECT doc_id, frame,
        |    list_transform(generate_series(0, 63), j ->
        |      ascii(substr(text,
        |        (((j + 29 * frame) % length(text)) + 1)::INT, 1))) AS v
        |  FROM pcf)
        |SELECT x.doc_id AS doc_a, x.frame::BIGINT AS frame_a,
        |  y.doc_id AS doc_b, y.frame::BIGINT AS frame_b
        |FROM pcv x JOIN pcv y
        |  ON x.v = y.v AND (x.doc_id < y.doc_id OR
        |    (x.doc_id = y.doc_id AND x.frame < y.frame))""".stripMargin
  )
}
