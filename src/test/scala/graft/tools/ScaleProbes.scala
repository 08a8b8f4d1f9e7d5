package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core._
import graft.ops.{AudioCodec, DedupOps, ImageCodec, JpegCodec, LayoutOps,
  MultimodalOps, PersistedIndex, SimilarityOps, VideoCodec}
import Probe.timed

/** The scale-law probes `Probe scale <name> [n]` runs: each builds its
  * corpus from `spark.range` (or the committed test data), prints `PROBE`
  * lines and `require`s the law it measures. */
object ScaleProbes {
  private def arg(args: Seq[String], default: Long): Long =
    args.headOption.fold(default)(_.toLong)

  /** Index-first sampling at 10× bench size (default 6 M rows): exact
    * cardinality, balance and no partition pathologies survive scale-up. */
  def sampling(spark: SparkSession, args: Seq[String]): Unit = {
    val n = arg(args, 6000000L)
    def step[T](name: String)(f: => T): T = {
      val (r, s) = timed(f)
      println(f"SCALE $name: $s%.2f s")
      r
    }
    val base = spark.range(n).toDF("k")
      .withColumn("label", pmod(col("k") * 2654435761L, lit(1000)))
      .withColumn("payload", md5(col("k").cast("string")))
    val sc = step("rank (one-time)") {
      val c = ScCollection.fromDataFrame(base, col("k")).cached()
      c.df.count()
      c
    }
    step(s"block pipeline ($n rows)") {
      val ds = ScDataset(sc, BlockShuffling(blockSize = 1024), batchSize = 64,
        fetchFactor = 16, seed = 42L)
      val got = ds.planFrame(0).count()
      require(got == n, s"pipeline cardinality: $got != $n")
      CacheScope.release()
    }
    step(s"weighted replace (${2 * n} samples)") {
      val got = BlockWeightedSampling(col("label") + 1, totalSize = 2 * n,
        blockSize = 1024).plan(sc, 11).count()
      require(got == 2 * n, s"weighted cardinality: $got != ${2 * n}")
      CacheScope.release()
    }
    step(s"class balanced (${n / 2} samples)") {
      val plan = ClassBalancedSampling(col("label"), totalSize = n / 2,
        blockSize = 1024).plan(sc, 13)
      val got = plan.count()
      require(got == n / 2, s"balanced cardinality: $got != ${n / 2}")
      // balance check: no class should exceed 2x the uniform share
      val mx = plan.groupBy("label").count()
        .agg(max("count")).head.getLong(0)
      require(mx < 2 * (n / 2) / 1000 + 1000, s"class skew: max=$mx")
      CacheScope.release()
    }
    step(s"no-replace reservoir (${n / 100} of $n)") {
      val got = BlockWeightedSampling(col("label") + 1, totalSize = n / 100,
        blockSize = 1024, replace = false).plan(sc, 17).count()
      require(got == n / 100, s"noreplace cardinality: $got != ${n / 100}")
      CacheScope.release()
    }
    step(s"no-replace 3-round draw (${3 * (n / 100)} of $n)") {
      val got = BlockWeightedSampling(col("label") + 1,
        totalSize = 3 * (n / 100), blockSize = 1024, replace = false,
        samplingSize = Some(n / 100)).plan(sc, 17).count()
      require(got == 3 * (n / 100),
        s"rounds cardinality: $got != ${3 * (n / 100)}")
      CacheScope.release()
    }
    println("SCALE all invariants held")
  }

  /** Semantic-dedup pair-stage growth with corpus-proportional cells
    * (k = ceil(n/64)) vs a fixed-8 quantizer on synthetic dim-16
    * embeddings: pair rows must grow ~linearly, not quadratically. */
  def semanticCells(spark: SparkSession, args: Seq[String]): Unit = {
    def emb(n: Long) = spark.range(n).select(col("id").as("vec_id"),
      array((0 until 16).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(1000)) / 500.0 - 1.0)
          .cast("float")): _*).as("embedding"))
    def cellPairs(asg: org.apache.spark.sql.DataFrame) = asg.groupBy("centroid_id").count()
    Seq(20000L, 200000L).foreach { n =>
      val e = emb(n).cache(); e.count()
      val k = math.max(8L, math.ceil(n / 64.0).toLong)
      val (sizes, asgSec) = timed(cellPairs(SimilarityOps.ivfAssign(e,
          col("embedding"), col("vec_id"), e.where(col("vec_id") < k),
          col("embedding"), col("vec_id")))
        .agg(sum(col("count") * (col("count") - 1) / 2).cast("long"),
          max("count")).head())
      val pairsProp = sizes.getLong(0)
      // the OLD parameterization for contrast: 8 cells regardless of n
      val pairs8 = cellPairs(SimilarityOps.ivfAssign(e, col("embedding"),
          col("vec_id"), e.where(col("vec_id") < 8), col("embedding"), col("vec_id")))
        .agg(sum(col("count") * (col("count") - 1) / 2).cast("long"))
        .head().getLong(0)
      println(f"SEMSCALE n=$n k=$k assign=$asgSec%.1fs " +
        f"pairs_proportional=$pairsProp pairs_fixed8=$pairs8 " +
        f"pairs_per_row=${pairsProp.toDouble / n}%.1f " +
        f"maxCell=${sizes.getLong(1)}")
      e.unpersist()
      CacheScope.release()
    }
  }

  /** toBatchesPrefetched overlap: drain wall with a 10 ms per-batch compute
    * delay, prefetched vs plain, over 500 k rows. */
  def prefetch(spark: SparkSession, args: Seq[String]): Unit = {
    val base = spark.range(500000L).toDF("k")
      .withColumn("payload", md5(col("k").cast("string")))
    val sc = ScCollection.fromDataFrame(base, col("k")).cached()
    sc.df.count()
    val ds = ScDataset(sc, BlockShuffling(blockSize = 1024),
      batchSize = 4096, fetchFactor = 4, seed = 42L)
    def drain(it: Iterator[org.apache.spark.sql.Row]): (Long, Double) = timed {
      var n = 0L
      while (it.hasNext) { it.next(); Thread.sleep(10); n += 1 }
      n
    }
    val (nb, plainS) = drain(ds.toBatches(0, Seq("payload")))
    val (nb2, preS) = drain(ds.toBatchesPrefetched(0, Seq("payload")))
    require(nb == nb2)
    println(f"PREFETCH batches=$nb plain=$plainS%.1fs prefetched=$preS%.1fs " +
      f"compute_floor=${nb * 0.010}%.1fs")
  }

  /** Semantic-dedup k-scaling on the 10× embeddings table that the scale
    * sweep writes (`scaledata/sf0.1x10`): pairs at k = 8 vs k = 80 cells. */
  def semanticK(spark: SparkSession, args: Seq[String]): Unit = {
    val e = spark.read.parquet("scaledata/sf0.1x10/embeddings.parquet")
    println("PROBE n " + e.count())
    def pairsWithK(k: Int): Long = {
      val asg = SimilarityOps.ivfAssign(e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < k), col("embedding"), col("vec_id"))
        .select(col("vec_id"), col("centroid_id").as("cluster"))
      val c = DedupOps.semanticPairs(e, col("embedding"), col("vec_id"),
        asg, 0.4).count()
      CacheScope.release()
      c
    }
    pairsWithK(8) // JIT + caches warm
    Seq(8, 80).foreach { k =>
      val (c, s) = timed(pairsWithK(k))
      println(f"PROBE k$k $s%.2f s k${k}_pairs $c")
    }
  }

  /** The docs of the near-dup derivation shape: printable md5 texts, the
    * first `cliqueN` ids sharing one text (a planted duplicate clique). */
  private def plantedDocs(spark: SparkSession, nDocs: Long, tag: String,
      planted: org.apache.spark.sql.Column) =
    spark.range(nDocs).select(col("id").as("doc_id"),
      md5(concat(lit(tag), when(planted, lit(-1L)).otherwise(col("id"))
        .cast("string"))).as("text"))

  /** Banding cardinality behind the 64-bit near-dup layout, over a 10×
    * corpus (default 50 000 docs): 16-bit hashes in 4 bands saturate their
    * buckets (pigeonhole over 16 key values, candidates Θ(n²)); 64-bit
    * hashes keep buckets clique-sized and candidates linear in n.  Then
    * Y4M frame-level dedup at 10×: the planted clique's 3·C(60,2) frame
    * pairs are found and the accidental tail stays linear. */
  def banding(spark: SparkSession, args: Seq[String]): Unit = {
    val nDocs = arg(args, 50000L)
    val cliqueN = 60L
    val docs = plantedDocs(spark, nDocs, "p", col("id") < cliqueN)
    val toImg = udf((id: Long, text: String) =>
      ImageCodec.grayFromBytes(8, 8, MultimodalOps.asciiBytes(text),
        id % 2 == 1))
    val decoded = MultimodalOps.decodeWith(
      docs.withColumn("payload", toImg(col("doc_id"), col("text"))),
      col("payload"), col("doc_id"), ImageCodec.kernel(8, 8)).toDF()
      .persist()
    require(decoded.count() == nDocs)

    // per-(band, key) populations for a given (bits, bands) blocking —
    // the exact key derivation aHashBandedPairs shuffles on
    def bucketStats(bits: Int, bands: Int): (Long, Long, Long) = {
      val bw = bits / bands
      val mask = (1L << bw) - 1L
      val hashed = decoded.select(
        MultimodalOps.aHash(col("features")).as("ahash"))
      val buckets = hashed.select(explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("ahash"), bw * b).bitwiseAND(mask)
              .as("key"))): _*)).as("bk"))
        .groupBy(col("bk.band"), col("bk.key"))
        .agg(count(lit(1)).as("c"))
      val r = buckets.agg(max(col("c")),
        sum((col("c") * (col("c") - 1) / 2).cast("long")),
        count(lit(1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val ((max16, cand16, nb16), s16) = timed(bucketStats(bits = 16, bands = 4))
    val ((max64, cand64, nb64), s64) = timed(bucketStats(bits = 64, bands = 4))

    // 16-bit: saturation is a pigeonhole certainty — 4-bit keys, 16
    // values per band, so SOME bucket holds ≥ n/16; assert the weaker
    // n/64 so the bound is loose against any skew direction
    require(max16 >= nDocs / 64,
      s"16-bit blocking unexpectedly sparse: max bucket $max16")
    // 64-bit: buckets are the planted clique plus accidental collisions
    // (~n/65536 expected extras per key); max bucket must stay ≤
    // clique + n/1000 — linear in dup density, NOT in corpus size
    require(max64 <= cliqueN + nDocs / 1000,
      s"64-bit blocking saturating: max bucket $max64")
    // candidate-pair blow-up: 16-bit candidates are Θ(n²/64)-ish — at
    // 50k docs that is ≥ 10M; 64-bit candidates stay within a small
    // multiple of the planted-clique truth (bands× the clique pairs,
    // plus rare accidentals)
    val truePairs = cliqueN * (cliqueN - 1) / 2
    require(cand16 > cand64 * 100,
      s"expected ≥100× candidate gap, got 16-bit=$cand16 64-bit=$cand64")
    // bounded candidates PER DOC (measured ~4/doc at 50k: the md5-
    // derived rasters are not uniform over 16-bit keys, so allow 16),
    // plus the clique's own band hits — linear in n, not quadratic
    require(cand64 <= truePairs * 4 + nDocs * 16,
      s"64-bit candidates out of band: $cand64 vs truth $truePairs")
    println(f"PROBE nDocs=$nDocs | 16-bit: maxBucket=$max16" +
      f" candidates=$cand16 buckets=$nb16 ($s16%.1fs)" +
      f" | 64-bit: maxBucket=$max64 candidates=$cand64 buckets=$nb64" +
      f" ($s64%.1fs) | truePairs=$truePairs")

    // Y4M frame-level dedup at 10×: 3 frames/doc through the real
    // container, md5-bucketed luma join — the planted clique's docs
    // share ALL frames, so its pair count is exactly 3·C(cliqueN,2)
    // plus cross-frame/cross-doc accidentals; the md5 bucket key keeps
    // the join linear in true-duplicate density
    val ((nFrames, dupPairs), tY4m) = timed {
      val fr = docs.select(col("doc_id"),
          posexplode(frameHashes(col("doc_id"), col("text"))))
        .select(col("doc_id"), col("pos").as("frame"), md5(col("col")).as("k"))
        .persist()
      (fr.count(), fr.as("a").join(fr.as("b"),
          col("a.k") === col("b.k") &&
            (col("a.doc_id") < col("b.doc_id") ||
              (col("a.doc_id") === col("b.doc_id") &&
                col("a.frame") < col("b.frame"))))
        .count())
    }
    require(nFrames == nDocs * 3)
    require(dupPairs >= 3L * cliqueN * (cliqueN - 1) / 2,
      s"planted clique frame pairs missing: $dupPairs")
    // linear-in-dup-density, not quadratic-in-corpus: the accidental
    // tail stays a small multiple of the corpus size
    require(dupPairs <= 3L * cliqueN * (cliqueN - 1) / 2 + nDocs * 8,
      s"frame-dup pairs out of band: $dupPairs")
    println(f"PROBE y4mFrames=$nFrames dupPairs=$dupPairs tY4m=$tY4m%.1fs")
  }

  /** Three 8×8 4:2:0 Y4M frames per doc, each frame shifted 29 bytes along
    * the text, decoded through the real container: per-frame luma sums. */
  private def frameHashes = udf((id: Long, text: String) => {
    val src = MultimodalOps.asciiBytes(text)
    VideoCodec.decodeY4mFrames(VideoCodec.encodeY4m(8, 8, (0 until 3).map { f =>
        (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
      }, chroma = "420"))
      .map(r => r.lumaSum3.mkString(","))
  })

  /** Perceptual frame-level video near-dup at 10× (default 50 000 docs ×
    * 3 Y4M frames through the real codec path) with planted
    * NEAR-IDENTICAL frames, all by one-pixel +1 nudges: every doc's frame
    * 2 is its frame 0 with pixel 0 nudged, and the first 60 docs share one
    * base text, each with its own nudge pixel (doc mod 64).  The
    * 64/4/Hamming-3 blocking is pigeonhole-exact, so banded must equal
    * brute force: (1) on the intra-doc pairs, (2) on the clique's 180
    * keys, and (3) buckets and candidates stay bounded (the `banding` law
    * at (doc, frame) granularity). */
  def videoNeardup(spark: SparkSession, args: Seq[String]): Unit = {
    val nDocs = arg(args, 50000L)
    val cliqueN = 60L
    val docs = plantedDocs(spark, nDocs, "v", col("id") < cliqueN)

    // the real per-frame decode path of mm_y4m_frame_neardup, plus the
    // clique's per-doc nudge pixel (doc mod 64) on every frame
    val frameFeats = udf((id: Long, text: String) => {
      val src = MultimodalOps.asciiBytes(text)
      val nudgeJ = (id % 64).toInt
      def px(f: Int)(x: Int, y: Int): Int = {
        val j = y * 8 + x
        val base = src((j + 29 * (if (f == 2) 0 else f)) % src.length) & 0xff
        val bump = (f == 2 && j == 0) || (id < 60L && j == nudgeJ)
        if (bump) (base + 1) % 256 else base
      }
      val frames: Seq[(Int, Int) => Int] = (0 until 3).map(f => px(f) _)
      VideoCodec.decodeY4mFrames(
        VideoCodec.encodeY4m(8, 8, frames, chroma = "420"))
        .map(r => ImageCodec.rasterFeatures(r, 8, 8).toSeq)
    })
    val perFrame = docs
      .select(col("doc_id"), posexplode(frameFeats(col("doc_id"),
        col("text"))))
      .select((col("doc_id") * 4 + col("pos")).as("key"),
        col("col").as("features"))
      .persist()
    val nKeys = perFrame.count()
    require(nKeys == nDocs * 3, s"decode lost frames: $nKeys")

    val hashes = perFrame.select(col("key"),
      MultimodalOps.aHash(col("features")).as("ahash")).persist()

    val banded = MultimodalOps.aHashBandedPairs(perFrame, col("key"),
      bits = 64, bands = 4, maxHamming = 3).persist()
    val (nBanded, sBanded) = timed(banded.count())

    // 1. intra-doc truth (O(n): 3 pairs per doc), must match exactly
    val h2 = hashes.select(shiftrightunsigned(col("key"), 2).as("doc"),
      col("key"), col("ahash"))
    val intraTrue = h2.as("a").join(h2.as("b"),
        col("a.doc") === col("b.doc") && col("a.key") < col("b.key"))
      .select(col("a.key").as("doc_a"), col("b.key").as("doc_b"),
        bit_count(col("a.ahash").bitwiseXOR(col("b.ahash")))
          .cast("long").as("hamming"))
      .where(col("hamming") <= 3)
    val bandedIntra = banded.where(
      shiftrightunsigned(col("doc_a"), 2) ===
        shiftrightunsigned(col("doc_b"), 2))
    val nIntraTrue = intraTrue.count()
    val nIntraMiss = intraTrue.join(bandedIntra, Seq("doc_a", "doc_b"),
      "left_anti").count()
    val nIntraExtra = bandedIntra.join(intraTrue, Seq("doc_a", "doc_b"),
      "left_anti").count()
    require(nIntraMiss == 0 && nIntraExtra == 0,
      s"intra-doc recall broken: $nIntraMiss missed, $nIntraExtra extra" +
        s" of $nIntraTrue true pairs")
    // the planted frame-0→frame-2 nudge must dominate: nearly every doc
    // contributes its pair (a one-pixel +1 flips at most a few
    // borderline mean bits)
    require(nIntraTrue >= nDocs / 2,
      s"planted intra-doc near-dups unexpectedly rare: $nIntraTrue")

    // 2. clique truth: 180 keys, brute-forced on the driver
    val cl = hashes.where(shiftrightunsigned(col("key"), 2) < cliqueN)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(cl.length == cliqueN * 3)
    val clTrue = (for {
      (ka, ha) <- cl; (kb, hb) <- cl
      if ka < kb && (ka >> 2) != (kb >> 2)
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ka, kb)).toSet
    val bandedClique = banded.where(
        shiftrightunsigned(col("doc_a"), 2) < cliqueN &&
          shiftrightunsigned(col("doc_b"), 2) < cliqueN &&
          shiftrightunsigned(col("doc_a"), 2) =!=
            shiftrightunsigned(col("doc_b"), 2))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    require(bandedClique == clTrue,
      s"clique recovery broken: banded ${bandedClique.size} vs true " +
        s"${clTrue.size} (missed ${(clTrue -- bandedClique).size}, " +
        s"extra ${(bandedClique -- clTrue).size})")

    // 3. the banding bucket law at (doc, frame) granularity
    val bw = 16; val mask = (1L << bw) - 1L
    val buckets = hashes.select(explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("ahash"), bw * b).bitwiseAND(mask)
            .as("bkey"))): _*)).as("bk"))
      .groupBy(col("bk.band"), col("bk.bkey"))
      .agg(count(lit(1)).as("c"))
      .agg(max(col("c")), sum((col("c") * (col("c") - 1) / 2)
        .cast("long"))).head()
    val maxBucket = buckets.getLong(0)
    val candidates = buckets.getLong(1)
    require(maxBucket <= cliqueN * 3 + nKeys / 1000,
      s"banded blocking saturating: max bucket $maxBucket")
    val truePairs = nIntraTrue + clTrue.size
    require(candidates <= truePairs * 4 + nKeys * 16,
      s"candidates out of band: $candidates vs truth $truePairs")

    println(f"PROBE nDocs=$nDocs keys=$nKeys | banded pairs=$nBanded" +
      f" ($sBanded%.1fs) | intra-doc true=$nIntraTrue (0 missed/extra)" +
      f" | clique true=${clTrue.size} recovered exactly" +
      f" | maxBucket=$maxBucket candidates=$candidates")
  }

  /** The video-ingestion loop behind `pipe_video_dedup` at 100× the sf0.1
    * documents table (default 500 000 docs = 1.5 M decoded frames): per
    * catch-up cost stays O(delta) as the persisted index grows.  Docs with
    * id % 5000 == 0 share one base text — a duplicate family whose 3
    * frames each form an equal-hash clique.  Asserted over 4 staged
    * shards (id % 4): (1) a decode accumulator grows by ~3·|delta| per
    * catch-up (re-decoding the stored index would grow it by 3·|total|);
    * (2) index files stay within the retention bound
    * (`PersistedIndex.maybeCompact` after every append); (3) the largest
    * frame-hash bucket is the planted family size; (4) the staged pair
    * union equals the closed-form truth, 3·C(family, 2). */
  def videoIngest(spark: SparkSession, args: Seq[String]): Unit = {
    val nDocs = arg(args, 500000L)
    val famStride = 5000L
    val famSize = (nDocs + famStride - 1) / famStride
    val root = java.nio.file.Files.createTempDirectory("video-ingest").toString
    val lake = s"$root/lake"; val ckp = s"$root/ckp"
    val idx = s"$root/idx"; val cand = s"$root/cand"
    val docs = plantedDocs(spark, nDocs, "v20", col("id") % famStride === 0)

    val decodes = spark.sparkContext.longAccumulator("frame_decodes")
    val frameHashes = udf((id: Long, text: String) => {
      val src = MultimodalOps.asciiBytes(text)
      decodes.add(3)
      VideoCodec.decodeY4mFrames(VideoCodec.encodeY4m(8, 8,
        (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }, chroma = "420"))
        .map(r => r.lumaSum3.mkString(","))
    })

    var done = 0L
    var prevDecodes = 0L
    (0 until 4).foreach { k =>
      val shard = docs.where(col("doc_id") % 4 === k)
      val shardN = shard.count()
      LayoutOps.commitAppend(shard, lake)
      val (_, secs) = timed(LayoutOps.lakeTail(spark, lake, ckp) { (delta, _) =>
        val fr = delta.select(col("doc_id"),
            posexplode(frameHashes(col("doc_id"), col("text"))))
          .select(col("doc_id"), col("pos").cast("long").as("frame"),
            col("col").as("luma"), md5(col("col")).as("__k"))
          .persist()
        val seeded = new java.io.File(idx).exists
        val within = fr.as("a").join(fr.as("b"),
            col("a.__k") === col("b.__k") &&
              col("a.luma") === col("b.luma") &&
              (col("a.doc_id") < col("b.doc_id") ||
                (col("a.doc_id") === col("b.doc_id") &&
                  col("a.frame") < col("b.frame"))))
          .select(col("a.doc_id").as("doc_a"), col("a.frame").as("frame_a"),
            col("b.doc_id").as("doc_b"), col("b.frame").as("frame_b"))
        val pairs =
          if (!seeded) within
          else {
            val old = spark.read.parquet(idx)
            val joined = old.as("a").join(fr.as("b"),
              col("a.__k") === col("b.__k") &&
                col("a.luma") === col("b.luma"))
            val aFirst = col("a.doc_id") < col("b.doc_id")
            joined.select(
                when(aFirst, col("a.doc_id")).otherwise(col("b.doc_id"))
                  .as("doc_a"),
                when(aFirst, col("a.frame")).otherwise(col("b.frame"))
                  .as("frame_a"),
                when(aFirst, col("b.doc_id")).otherwise(col("a.doc_id"))
                  .as("doc_b"),
                when(aFirst, col("b.frame")).otherwise(col("a.frame"))
                  .as("frame_b"))
              .unionByName(within)
          }
        pairs.write.mode("append").parquet(cand)
        fr.select("doc_id", "frame", "luma", "__k")
          .write.mode("append").parquet(idx)
        fr.unpersist()
        PersistedIndex.maybeCompact(spark, idx, maxFiles = 48,
          targetFiles = 16)
      })
      done += shardN
      // 1. decode count grew by O(delta), not O(total): the stored
      // index must never be re-decoded (tolerance covers task retries)
      val dNow = decodes.value
      val grew = dNow - prevDecodes
      prevDecodes = dNow
      require(grew <= 3 * shardN * 3 / 2,
        s"catch-up $k decoded $grew frames for a $shardN-doc delta — " +
          "O(corpus) re-decode regression")
      require(grew >= 3 * shardN,
        s"catch-up $k decoded only $grew frames for $shardN docs")
      // 2. retention holds as the index grows
      val files = PersistedIndex.dataFileCount(spark, idx)
      require(files <= 48 + 32,
        s"index fragmented past the retention bound: $files files")
      println(f"PROBE catch-up $k: docs=$shardN ($secs%.1f s) " +
        f"decodes+=$grew indexFiles=$files")
    }

    // 3. bucket law: max frame-hash bucket == the planted family size
    val maxBucket = spark.read.parquet(idx)
      .groupBy("__k").agg(count(lit(1)).as("c"))
      .agg(max(col("c"))).head().getLong(0)
    require(maxBucket == famSize,
      s"max bucket $maxBucket != planted family $famSize")

    // 4. exactness: staged union == closed-form planted truth
    val got = spark.read.parquet(cand).distinct().count()
    val want = 3 * famSize * (famSize - 1) / 2
    require(got == want, s"staged pairs $got != planted truth $want")

    val total = spark.read.parquet(idx).count()
    require(total == 3 * done, s"index rows $total != ${3 * done}")
    println(f"PROBE nDocs=$nDocs frames=${3 * done} | pairs=$got " +
      f"(= 3*C($famSize,2)) | maxBucket=$maxBucket | " +
      f"decodes=${decodes.value} (once per frame) | " +
      f"indexFiles=${PersistedIndex.dataFileCount(spark, idx)}")
  }

  /** The corpus MAX error of the lossy codecs over every document at each
    * scale factor — the numbers the tolerance-gauge oracle bounds must
    * exceed with headroom: per-pixel channel-sum error of the 4:2:2 and
    * 4:1:1 JPEG containers, and sample error of G.711 µ-law/A-law and IMA
    * ADPCM (fixture signal sample i = (src[(i·7+3) mod len] − 76)·256). */
  def codecGauge(spark: SparkSession, args: Seq[String]): Unit = {
    import spark.implicits._
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val texts = spark.read.parquet(s"${Probe.TestData}/$sf/documents.parquet")
        .select("text").as[String].collect()
      def maxErr(mk: Array[Byte] => Array[Byte]): Int =
        texts.map { t =>
          val src = MultimodalOps.asciiBytes(t)
          val r = JpegCodec.decode(mk(src))
          (0 until 64).map { j =>
            val expect = (src(j % src.length) & 0xff) +
              (src((j + 13) % src.length) & 0xff) +
              (src((j + 29) % src.length) & 0xff)
            math.abs(r.lumaSum3(j) - expect)
          }.max
        }.max
      val e422 = maxErr(s => JpegCodec.color422Jpeg(8, 8, s, quality = 90))
      val e411 = maxErr(s => JpegCodec.color411Jpeg(8, 8, s, quality = 90))
      println(s"GAUGE $sf n=${texts.length} 422maxErr=$e422 411maxErr=$e411")
      // (max error, max error past the first 32 samples, block-anchor error)
      def audioMaxErr(enc: Array[Short] => Array[Byte]): (Int, Int, Int) = {
        var mx = 0
        var warmMx = 0
        var anchorErr = 0
        texts.foreach { t =>
          val src = MultimodalOps.asciiBytes(t)
          val sig = Array.tabulate(256) { i =>
            ((src((i * 7 + 3) % src.length) & 0xff) - 76) * 256
          }.map(_.toShort)
          val (_, dec) = AudioCodec.decodeWav(enc(sig))
          require(dec.length == 256, s"decoded ${dec.length} samples")
          var i = 0
          while (i < 256) {
            val e = math.abs(dec(i) - sig(i))
            mx = math.max(mx, e)
            if (i >= 32) warmMx = math.max(warmMx, e)
            i += 1
          }
          anchorErr = math.max(anchorErr, math.abs(dec(0) - sig(0)))
        }
        (mx, warmMx, anchorErr)
      }
      val (eU, _, _) = audioMaxErr(s => AudioCodec.encodeWavUlaw(16000, s))
      val (eA, _, _) = audioMaxErr(s => AudioCodec.encodeWavAlaw(16000, s))
      val (eI, wI, aI) = audioMaxErr(s => AudioCodec.encodeWavAdpcm(16000, s))
      println(s"GAUGE $sf ulawMaxErr=$eU alawMaxErr=$eA adpcmMaxErr=$eI " +
        s"adpcmWarmMaxErr=$wI adpcmAnchorErr=$aI")
    }
  }
}
