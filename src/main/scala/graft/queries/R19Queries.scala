package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{ImageCodec, LayoutOps, MultimodalOps, VideoCodec}

/** Round-19: the video tier's production semantics — the three shapes
  * the r18 verdict ranked next.
  *
  *  - `mm_y4m_frame_neardup`: PERCEPTUAL frame-level video near-dup —
  *    the 64-bit banded-aHash stage ([[MultimodalOps.aHashBandedPairs]],
  *    the landed image-tier blocking) composed over per-frame Y4M
  *    features.  Each doc's Y4M carries three frames: frames 0/1 walk
  *    the text at offsets 0/29 (the animated-GIF map) and frame 2 is
  *    frame 0 with ONE pixel nudged by +1 — the planted near-identical
  *    (not identical) re-encode shape, so the result set is dominated
  *    by real hamming-≤3 pairs the exact tier (`mm_y4m_frame_dedup`)
  *    cannot see.  (doc, frame) is packed into one 64-bit key
  *    (doc·4+frame, frame < 4), so key order IS lexicographic
  *    (doc, frame) order and the banded join's `a < b` canonicalization
  *    carries over unchanged.  4-band/Hamming-3 blocking is pigeonhole-
  *    EXACT over the hash space, so the oracle is the brute-force
  *    hamming-≤3 join over per-frame aHashes recomputed from the text —
  *    hash-exact, the `mm_real_ahash_banded` discipline at (doc, frame)
  *    granularity.
  *
  *  - `mm_gif_disposal`: partial-frame animated GIF with DISPOSAL
  *    COMPOSITING (GIF89a §23) — how real animated GIFs are authored
  *    (only the changed rectangle is stored per frame).  Four frames
  *    per doc: a full-screen base (disposal 1 = leave), a centered 4×4
  *    patch with disposal 2 (restore rect to the background color), a
  *    bottom-left patch with disposal 3 (restore to previous), and a
  *    top-right patch over the post-disposal canvas — so all three
  *    disposal methods are exercised and every later frame's canvas
  *    depends on the earlier disposals being applied exactly.  The
  *    container is lossless end-to-end, so the oracle replays each
  *    composited canvas in closed form from the text (CASE over the
  *    rectangle geometry), hash-exact.
  *
  *  - `mm_gif_transparency`: the GCE transparent-color flag — the other
  *    half of real animated-GIF authoring (unchanged pixels INSIDE the
  *    stored rectangle are holes).  Composited at palette-INDEX
  *    granularity (the index→palette map is not injective, so a
  *    sum-level composite could not tell a hole from an opaque pixel
  *    sharing the color); the hole index 31 sits below the
  *    printable-ASCII floor, so text bytes never collide with it.
  *    Full-screen and partial transparent frames both exercised; same
  *    closed-form hash-exact replay.
  *
  *  - `mm_avi_frames` / `mm_avi_mjpeg`: the SECOND video container
  *    family — AVI (RIFF; the same chunk grammar as the WAV tier with
  *    LIST nesting).  DIB frames are lossless bottom-up padded BGR
  *    rows, so features + the container's exact byte length replay in
  *    closed form; MJPG frames are per-frame baseline JPEGs chained
  *    through [[graft.ops.JpegCodec]], oracled by in-row bit-equality
  *    to the direct JPEG decode (the strongest check a lossy container
  *    admits — any AVI-path slip in chunk walking, alignment, or frame
  *    extraction breaks the equality).
  *
  *  - `pipe_video_dedup`: the 100 TB video-ingestion loop — documents
  *    arrive as lake commits; each [[LayoutOps.lakeTail]] catch-up
  *    decodes ONLY the delta's Y4M frames, joins the delta's frame
  *    hashes against the persisted frame-hash index (old corpus never
  *    re-decoded), appends the delta's hashes to the index, and appends
  *    the new pairs.  Every unordered pair is found exactly when its
  *    LATER shard arrives (cross pairs index×delta, in-delta pairs
  *    delta×delta), so the union of the staged pair sets must equal
  *    the full-corpus frame-dedup oracle — the `pipe_lake_dedup`
  *    incremental-index pattern applied to the video tier, checked
  *    hash-exactly against the same all-pairs SQL as
  *    `mm_y4m_frame_dedup`.
  */
object R19Queries extends QuerySet {

  /** Per-(doc, frame) luma strings + md5 bucket keys for the standard
    * 3-frame/C420 Y4M fixture (frame f walks the text at offset 29f) —
    * the `mm_y4m_frame_dedup` derivation, shared by the incremental
    * pipeline.  Output: (doc_id, frame, luma, __k). */
  private[queries] def y4mFrameHashes(d: DataFrame): DataFrame = {
    val frameHashes = udf((id: Long, text: String) => {
      val src = MultimodalOps.asciiBytes(text)
      VideoCodec.decodeY4mFrames(VideoCodec.encodeY4m(8, 8,
        (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }, chroma = "420"))
        .map(r => r.lumaSum3.mkString(","))
    })
    d.select(col("doc_id"),
        posexplode(frameHashes(col("doc_id"), col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("frame"),
        col("col").as("luma"), md5(col("col")).as("__k"))
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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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
        ImageCodec.decodeGifComposited(
          ImageCodec.encodeGifAnimatedComposite(8, 8, frames))
          .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq)
      })
      Tables.docs(s, dir)
        .select(col("doc_id"),
          posexplode(compFeats(col("doc_id"), col("text"))))
        .withColumnRenamed("pos", "frame")
        .select(col("doc_id"), col("frame").cast("long").as("frame"),
          posexplode(col("col")))
        .select(col("doc_id"), col("frame"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    // cross-container conformance: the SAME frames through both video
    // containers (Y4M raw planes vs AVI DIB rows) must decode
    // BIT-EQUAL per frame — any slip in either container's geometry
    // (row order, padding, plane sizes) breaks the in-row equality
    "mm_video_containers" -> ((s, dir) => {
      val biteq = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
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
      val d = Tables.docs(s, dir)
        .withColumn("payload", toWav(col("text")))
      val env = graft.ops.AudioCodec.decodeWith(d, col("payload"),
          col("doc_id"), frames = 16).toDF()
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
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
        val payload = VideoCodec.encodeAvi(8, 8, frames)
        (payload.length,
          VideoCodec.decodeAviFrames(payload)
            .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq))
      })
      Tables.docs(s, dir)
        .select(col("doc_id"),
          decodeFrames(col("doc_id"), col("text")).as("d"))
        .select(col("doc_id"), col("d._1").cast("long").as("byte_len"),
          posexplode(col("d._2")))
        .withColumnRenamed("pos", "frame")
        .select(col("doc_id"), col("byte_len"),
          col("frame").cast("long").as("frame"), posexplode(col("col")))
        .select(col("doc_id"), col("byte_len"), col("frame"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    "mm_avi_mjpeg" -> ((s, dir) => {
      val biteq = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
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
        ImageCodec.decodeGifComposited(
          ImageCodec.encodeGifAnimatedComposite(8, 8, frames))
          .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq)
      })
      Tables.docs(s, dir)
        .select(col("doc_id"),
          posexplode(compFeats(col("doc_id"), col("text"))))
        .withColumnRenamed("pos", "frame")
        .select(col("doc_id"), col("frame").cast("long").as("frame"),
          posexplode(col("col")))
        .select(col("doc_id"), col("frame"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    }),

    "pipe_video_dedup" -> ((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val lake = R9Queries.runTmp + "/pvd_lake_" + tag
      val idx = R9Queries.runTmp + "/pvd_idx_" + tag
      val ckp = R9Queries.runTmp + "/pvd_ckp_" + tag
      val cand = R9Queries.runTmp + "/pvd_cand_" + tag
      if (LayoutOps.latestVersion(s, lake) < 0) {
        val d = Tables.docs(s, dir).select(col("doc_id"), col("text"))
        (0 until 3).foreach { k =>
          LayoutOps.commitAppend(d.where(col("doc_id") % 3 === k), lake)
          LayoutOps.lakeTail(s, lake, ckp) { (delta, _) =>
            // decode ONLY the delta's frames; the persisted index
            // carries every earlier shard's hashes
            val fr = y4mFrameHashes(delta).persist()
            graft.core.CacheScope.register(fr)
            val seeded = new java.io.File(idx.stripPrefix("file:")).exists
            val pairs =
              if (!seeded) framePairsWithin(fr)
              else framePairsAcross(s.read.parquet(idx), fr)
                .unionByName(framePairsWithin(fr))
            pairs.write.mode("append").parquet(cand)
            fr.write.mode("append").parquet(idx)
          }
        }
      }
      s.read.parquet(cand).distinct()
    })
  )

  /** Per-pixel 64-bit aHash per (doc, frame) — [[R16bQueries]]'s
    * RealAHash64Sql extended with the frame offset 29f and the planted
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

  def oracles: Map[String, String] = Map(

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
      s"""WITH ${R16eQueries.WavFeatSql},
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

    // the staged incremental union must equal the FULL-corpus
    // frame-dedup pairs — the same all-pairs SQL as mm_y4m_frame_dedup
    "pipe_video_dedup" ->
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
        |    (x.doc_id = y.doc_id AND x.frame < y.frame))""".stripMargin
  )
}
