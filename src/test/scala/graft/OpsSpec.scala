package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.ops._
import graft.streaming.StreamingOps

/** Invariants for the extension operators (dedup, similarity, multimodal,
  * streaming) and the auxiliary surfaces (hooks, union, auto-config) that
  * the oracle-checked queries exercise only end-to-end. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),
    (2L, "completely different text with no overlap at all"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup keeps the lowest-id row per distinct text") {
    val kept = DedupOps.exactDedup(docs, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 1L, 2L))
  }

  test("minhash candidates find near-dups, not unrelated docs") {
    val pairs = DedupOps.minhashCandidates(docs, col("text"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // identical text: all bands collide
    assert(!pairs.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("jaccard pairs: identical docs score 1.0, ordered ids") {
    val p = DedupOps.ngramJaccardPairs(docs, col("text"), col("doc_id"),
      minJaccard = 0.2)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(p.forall { case (a, b, _) => a < b })
    val exact = p.find { case (a, b, _) => a == 0L && b == 3L }
    assert(exact.exists(_._3 == 1.0))
  }

  test("embeddingPairs matches a naive reference on random vectors") {
    val r = new scala.util.Random(7)
    val vs = (0L until 30L).map(i =>
      (i, Array.fill(8)(r.nextDouble() - 0.5).map(_.toFloat)))
    val df = vs.toDF("vec_id", "embedding")
    val got = DedupOps.embeddingPairs(df, col("embedding"), col("vec_id"), 0.2)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val want = (for {
      i <- vs.indices; j <- (i + 1) until vs.length
      if cos(vs(i)._2, vs(j)._2) >= 0.2
    } yield (vs(i)._1, vs(j)._1)).toSet
    // rounding at the 0.2 boundary can differ in the naive ref; allow only
    // boundary discrepancies
    val sym = (got diff want) ++ (want diff got)
    sym.foreach { case (a, b) =>
      val c = cos(vs(a.toInt)._2, vs(b.toInt)._2)
      assert(math.abs(c - 0.2) < 1e-9, s"non-boundary disagreement at ($a,$b): $c")
    }
  }

  test("embeddingPairs distributed path agrees with the broadcast kernel") {
    val r = new scala.util.Random(11)
    val vs = (0L until 25L).map(i =>
      (i, Array.fill(6)(r.nextDouble() - 0.5).map(_.toFloat)))
    val df = vs.toDF("vec_id", "embedding")
    val driver = DedupOps.embeddingPairs(df, col("embedding"), col("vec_id"), 0.3)
      .select("vec_a", "vec_b", "cos").as[(Long, Long, Double)].collect().toSet
    // maxDriverRows = 0 forces the distributed self-join plan
    val dist = DedupOps.embeddingPairs(df, col("embedding"), col("vec_id"), 0.3,
        maxDriverRows = 0L)
      .select("vec_a", "vec_b", "cos").as[(Long, Long, Double)].collect().toSet
    assert(dist == driver)
  }

  test("EntropyAgg skips null categories instead of crashing") {
    val df = Seq(Some("a"), Some("a"), Some("b"), None, None)
      .toDF("c")
    val ent = udaf(graft.functions.EntropyAgg)
    val got = df.agg(ent(col("c"))).head.getDouble(0)
    // nulls ignored: 2×a + 1×b → H = -(2/3 log2 2/3 + 1/3 log2 1/3)
    val want = -(2.0 / 3 * math.log(2.0 / 3) / math.log(2) +
      1.0 / 3 * math.log(1.0 / 3) / math.log(2))
    assert(math.abs(got - want) < 1e-9)
  }

  test("CacheScope.release unpersists registered frames only") {
    val mine = spark.range(10).toDF("x")
    // NOT range(10) again: identical-result plans share one cache entry
    // (column names canonicalize away), so unpersisting `mine` would drop it
    val user = spark.range(20).toDF("y").persist()
    try {
      user.count()
      val p = graft.core.CacheScope.persist(mine)
      p.count()
      assert(p.storageLevel.useMemory)
      graft.core.CacheScope.release()
      assert(!p.storageLevel.useMemory, "registered frame still cached")
      assert(user.storageLevel.useMemory, "user frame must survive release()")
    } finally user.unpersist()
  }

  test("dedupClusters: min label reaches across chains (pointer jumping)") {
    // path 1-2-3-4-5 (diameter 4) plus separate pair (8,9)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("doc_a", "doc_b")
    val got = DedupOps.dedupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      8L -> 8L, 9L -> 8L))
    graft.core.CacheScope.release()
  }

  test("ivfTopK with all cells probed equals exact bruteTopK") {
    val r = new scala.util.Random(5)
    val vs = (0L until 40L).map(i =>
      (i, Array.fill(6)(r.nextDouble() - 0.5).map(_.toFloat)))
    val e = vs.toDF("vec_id", "embedding")
    val cents = e.where(col("vec_id") < 4)
    val qs = e.where(col("vec_id") >= 35)
    val ivf = SimilarityOps.ivfTopK(e, col("embedding"), col("vec_id"),
        cents, col("embedding"), col("vec_id"),
        qs, col("embedding"), col("vec_id"), k = 5, nprobe = 4)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val brute = SimilarityOps.bruteTopK(e, col("embedding"), col("vec_id"),
        qs, col("embedding"), col("vec_id"), k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(ivf == brute)
  }

  test("ivfAssign picks the argmax-cosine centroid") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (10L, Array(0.9f, 0.1f)), (11L, Array(-0.2f, 0.8f)),
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.ivfAssign(e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 2), col("embedding"), col("vec_id"))
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    assert(out(10L) == 0L && out(11L) == 1L)
    assert(out(0L) == 0L && out(1L) == 1L)
  }

  test("simhashCandidates finds exact dups via shared signature bytes") {
    val pairs = DedupOps.simhashCandidates(docs, col("text"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // identical text → identical signature
  }

  test("kmeansAssign: deterministic seeded clustering over embeddings (MLlib)") {
    val r = new scala.util.Random(3)
    val vs = (0L until 60L).map { i =>
      val c = (i % 3).toInt // 3 well-separated centers
      (i, Array.tabulate(4)(d => (c * 10.0 + r.nextGaussian() * 0.1).toFloat))
    }
    val df = vs.toDF("vec_id", "embedding")
    def assign() = MlOps.kmeansAssign(df, col("embedding"), col("vec_id"),
      k = 3, seed = 42L).as[(Long, Long)].collect().toMap
    val a = assign()
    assert(a.values.toSet.size == 3)
    // members of the same true center share a cluster
    val byCenter = vs.groupBy(_._1 % 3).values
    byCenter.foreach(g => assert(g.map(x => a(x._1)).distinct.size == 1))
    assert(a == assign()) // same seed → same assignment
  }

  test("semanticDedup: planted in-cluster near-dups collapse, singletons survive") {
    val r = new scala.util.Random(11)
    // 3 semantic cells on orthogonal axes (coords 0..2) — well-separated in
    // EUCLIDEAN distance (what kmeans sees) AND mutually near-orthogonal in
    // COSINE.  Within a cell, ids (10c, 10c+1) are a planted near-identical
    // pair; members j>=2 add a 15-unit spike on a per-member axis
    // (coords 3..10), which keeps them in the cell for kmeans (spike <<
    // 100-unit cell offset) but pulls pairwise cosine down to ~0.98 — below
    // the 0.999 dup bar
    val vs = (0 until 3).flatMap { c =>
      (0 until 10).map { j =>
        val id = c * 10L + j
        val v = Array.tabulate(16) { d =>
          val base = if (d == c) 100.0 else 0.0
          val spike = if (j >= 2 && d == 3 + (j - 2)) 15.0 else 0.0
          val noise = if (j == 1) r.nextGaussian() * 1e-3 else 0.0
          (base + spike + noise).toFloat
        }
        (id, v)
      }
    }
    val df = vs.toDF("vec_id", "embedding")
    val kept = DedupOps.semanticDedup(df, col("embedding"), col("vec_id"),
      k = 3, minCosine = 0.999, seed = 42L)
      .select("vec_id").as[Long].collect().toSet
    CacheScope.release()
    // each planted pair loses exactly its higher id; everything else stays
    assert(kept == vs.map(_._1).toSet -- Set(1L, 11L, 21L))
    // determinism: same input + seed → same keeper set
    val again = DedupOps.semanticDedup(df, col("embedding"), col("vec_id"),
      k = 3, minCosine = 0.999, seed = 42L)
      .select("vec_id").as[Long].collect().toSet
    CacheScope.release()
    assert(again == kept)
  }

  test("stubDecode emits fixed-width deterministic features") {
    val d = MultimodalOps.stubDecode(
      MultimodalOps.withPayload(docs, col("text")), col("payload"),
      col("doc_id"), dim = 6).collect()
    assert(d.length == 4)
    assert(d.forall(_.features.length == 6))
    assert(d.forall(m => m.width >= 64 && m.width < 128))
    val a = d.find(_.doc_id == 0L).get
    val b = d.find(_.doc_id == 3L).get // identical payload → identical decode
    assert(a.features.toSeq == b.features.toSeq && a.width == b.width)
  }

  test("hooks: fetchTransform applies to the planned frame") {
    val sc = ScCollection.fromDataFrame(spark.range(64).toDF("k"), col("k"))
    val ds = ScDataset(sc, Streaming(), batchSize = 8,
      hooks = Hooks(fetchTransform = _.withColumn("k2", col("k") * 2)))
    val out = ds.planFrame(0).select("k", "k2").as[(Long, Long)].collect()
    assert(out.forall { case (k, k2) => k2 == 2 * k })
  }

  test("unstructured metadata passes through row/column subsetting (P2/P4)") {
    val sc = ScCollection.fromDataFrame(
        spark.range(10).toDF("k").withColumn("x", col("k") * 2), col("k"))
      .copy(unstructured = Map("gene_panel" -> "v2", "source" -> "test"))
    val out = sc.where(col("k") < 5).select("x")
    assert(out.unstructured == Map("gene_panel" -> "v2", "source" -> "test"))
    assert(out.df.columns.toSet == Set("row_id", "x"))
  }

  test("union assigns disjoint contiguous row ids with file provenance") {
    val a = spark.range(5).toDF("v")
    val b = spark.range(3).toDF("v")
    val u = ScCollection.union(Seq("a" -> a, "b" -> b), Seq(col("v")))
    val rows = u.df.select("row_id", "source_file", "v")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L until 8L))
    assert(rows.take(5).forall(_._2 == "a") && rows.drop(5).forall(_._2 == "b"))
    assert(u.length == 8)
  }

  test("saltedCount matches plain groupBy-count under skew") {
    val df = spark.range(10000).toDF("k")
      .withColumn("key", when(col("k") < 9000, "hot").otherwise(concat(lit("c"), col("k") % 7)))
    val salted = SkewOps.saltedCount(df, col("key"), salts = 8, saltSource = col("k"))
      .as[(String, Long)].collect().toMap
    val plain = df.groupBy("key").count().as[(String, Long)].collect().toMap
    assert(salted == plain)
    assert(salted("hot") == 9000L)
  }

  test("batchAssemble hook replaces the default batch extraction (U3)") {
    val sc = ScCollection.fromDataFrame(spark.range(96).toDF("k"), col("k"))
    val ds = ScDataset(sc, Streaming(), batchSize = 32,
      hooks = Hooks(batchAssemble = Some((pf, cols) =>
        pf.groupBy("batch_id").agg(max(col(cols.head)).as("k_max")))))
    val bf = ds.toBatchFrame(0, Seq("k")).select("batch_id", "k_max")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(bf.toSeq == Seq((0L, 31L), (1L, 63L), (2L, 95L)))
  }

  test("batchTransform hook runs on the batch frame (U4)") {
    val sc = ScCollection.fromDataFrame(spark.range(96).toDF("k"), col("k"))
    val ds = ScDataset(sc, Streaming(), batchSize = 32,
      hooks = Hooks(batchTransform = _.withColumn("n2", col("n") * 10)))
    val bf = ds.toBatchFrame(0, Seq("k")).select("batch_id", "n", "n2")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(bf.toSeq == Seq((0L, 32L, 320L), (1L, 32L, 320L), (2L, 32L, 320L)))
  }

  test("partitioned parquet reads prune partitions from the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toFile
    try {
      spark.range(1000).toDF("k")
        .withColumn("plate", concat(lit("p"), col("k") % 4))
        .write.partitionBy("plate").mode("overwrite")
        .parquet(dir.getAbsolutePath)
      val q = spark.read.parquet(dir.getAbsolutePath)
        .where(col("plate") === "p1").select("k")
      assert(q.count() == 250)
      val physical = q.queryExecution.executedPlan.toString
      assert(physical.contains("PartitionFilters") &&
        physical.contains("p1"), s"no partition pruning in:\n$physical")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("EntropyAgg single aggregate matches the pipeline formulation (A2)") {
    val df = spark.range(400).toDF("k")
      .withColumn("batch_id", floor(col("k") / 100))
      .withColumn("seg", concat(lit("s"), pmod(col("k"), lit(4))))
    val agg = udaf(graft.functions.EntropyAgg)
    val out = df.groupBy("batch_id").agg(agg(col("seg")).as("entropy"))
      .as[(Long, Double)].collect().toMap
    // 4 equally-likely segments per batch → exactly 2 bits
    assert(out.size == 4 && out.values.forall(e => math.abs(e - 2.0) < 1e-12))
  }

  test("materialize round-trips the ranked collection with pushdown-ready row ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mat").toFile
    try {
      val sc = ScCollection.fromDataFrame(spark.range(500).toDF("k"), col("k"))
      val mat = sc.materialize(dir.getAbsolutePath)
      assert(mat.contiguous && mat.length == 500)
      val slice = mat.df.where(col("row_id").between(100, 109))
      assert(slice.count() == 10)
      // the rowId predicate reaches the parquet scan
      val plan = slice.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("row_id"),
        s"no pushdown in:\n$plan")
      // a strategy on the reopened collection needs no re-rank
      val out = BlockShuffling(8).plan(mat, 3)
        .select(SamplingStrategy.Ord).collect().map(_.getLong(0)).sorted
      assert(out.toSeq == (0L until 500L))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("fromSource reads CSV into an indexable collection; writeBatches round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src").toFile
    val out = java.nio.file.Files.createTempDirectory("graft-batches").toFile
    try {
      spark.range(100).toDF("k").withColumn("v", col("k") * 3)
        .write.option("header", "true").mode("overwrite")
        .csv(dir.getAbsolutePath)
      val sc = ScCollection.fromSource(spark, dir.getAbsolutePath, "csv",
        Seq("k"), Map("header" -> "true", "inferSchema" -> "true"))
      assert(sc.length == 100)
      val ds = ScDataset(sc, BlockShuffling(blockSize = 16), batchSize = 25)
      ds.writeBatches(out.getAbsolutePath, 0, Seq("k", "v"))
      val back = spark.read.parquet(out.getAbsolutePath)
      assert(back.count() == 4)
      assert(back.agg(sum("n")).head.getLong(0) == 100L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir); rm(out)
    }
  }

  test("extensions: vec_dot / vec_norm2 / sparse_to_dense callable from SQL") {
    GraftExtensions.register(spark)
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0), Array(1L, 3L), Array(7.0, 9.0)))
      .toDF("a", "b", "idx", "v") // sparse_to_dense indices are 1-based
    df.createOrReplaceTempView("graft_ext_test")
    val r = spark.sql(
      """SELECT vec_dot(a, b) AS d, vec_norm2(a) AS n2,
        |       sparse_to_dense(idx, v, 4) AS dense
        |FROM graft_ext_test""".stripMargin).head()
    assert(r.getDouble(0) == 1.0 * 4 + 2 * 5 + 3 * 6)
    assert(r.getDouble(1) == 1.0 + 4 + 9)
    assert(r.getSeq[Double](2) == Seq(7.0, 0.0, 9.0, 0.0))
    // arity errors are caught at resolution, not execution
    intercept[Exception] {
      spark.sql("SELECT vec_dot(a) FROM graft_ext_test").head()
    }
  }

  test("autoconfig suggests positive, budget-consistent parameters") {
    val df = spark.range(1000).toDF("k")
      .withColumn("x", col("k").cast("double"))
    val bytes = AutoConfig.estimateSampleBytes(df)
    assert(bytes > 0)
    // A5 sizes through the FULL hook pipeline (reference
    // auto_config.py:164-275): a fetchTransform that widens each sample and
    // a batchTransform that widens each batch must both inflate the
    // estimate, monotonically.
    val withFetch = AutoConfig.estimateSampleBytes(df,
      Hooks(fetchTransform = d => d.withColumn("pad",
        array((0 until 32).map(i => col("x") + i): _*))))
    assert(withFetch > bytes, s"fetchTransform not sized: $withFetch vs $bytes")
    val withBatch = AutoConfig.estimateSampleBytes(df,
      Hooks(
        fetchTransform = d => d.withColumn("pad",
          array((0 until 32).map(i => col("x") + i): _*)),
        batchTransform = b => b.withColumn("pad2",
          array((0 until 64).map(i => col("n") + i): _*))))
    assert(withBatch > withFetch, s"batchTransform not sized: $withBatch vs $withFetch")
    val s = AutoConfig.suggest(spark, bytes, batchSize = 64,
      ramBytes = 4L << 30)
    assert(s.fetchFactor >= 1 && s.fetchFactor <= 1024)
    assert(s.blockSizeSmall <= s.blockSize && s.blockSize <= s.blockSizeLarge)
    assert(s.prefetchFactor == s.fetchFactor + 1)
    assert(s.workers >= 1 && s.workers <= 16)
  }

  test("streaming: watermark finalizes windows and drops late data") {
    val dir = java.nio.file.Files.createTempDirectory("graft-late").toFile
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      val schema = Seq((1L, t("2026-01-01 10:05:00"), "a", 1.0))
        .toDF("event_id", "ts", "event_type", "value").schema
      def write(rows: Seq[(Long, java.sql.Timestamp, String, Double)], part: String): Unit =
        rows.toDF("event_id", "ts", "event_type", "value")
          .coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      write(Seq(
        (1L, t("2026-01-01 10:05:00"), "a", 1.0),
        (2L, t("2026-01-01 12:05:00"), "a", 2.0)), "b1")
      val q = StreamingOps.tumblingCountsStream(spark, dir.getAbsolutePath,
          schema, "1 hour", "1 hour")
        .writeStream.format("memory").queryName("graft_late_test")
        .outputMode("append").start()
      q.processAllAvailable()
      // second micro-batch: one LATE row (10:30, behind the 11:05 watermark)
      // and one fresh row advancing time
      write(Seq(
        (3L, t("2026-01-01 10:30:00"), "a", 4.0),
        (4L, t("2026-01-01 14:05:00"), "a", 8.0)), "b2")
      q.processAllAvailable()
      val rows = spark.table("graft_late_test")
        .select("window_start_ms", "cnt").as[(Long, Long)].collect().toMap
      q.stop()
      val w10 = t("2026-01-01 10:00:00").getTime
      val w12 = t("2026-01-01 12:00:00").getTime
      // the 10:00 window finalized with ONE event — the late 10:30 row was
      // dropped, not retro-added; the 12:00 window finalized in batch 2
      assert(rows(w10) == 1L, s"late row leaked into finalized window: $rows")
      assert(rows(w12) == 1L, s"missing 12:00 window: $rows")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("streaming: watermarked dedup drops repeated ids across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup").toFile
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      val batch = Seq(
        (1L, t("2026-01-01 10:00:00"), "a", 1.0),
        (1L, t("2026-01-01 10:01:00"), "a", 1.0), // dup id
        (2L, t("2026-01-01 10:02:00"), "b", 2.0),
        (2L, t("2026-01-01 10:03:00"), "b", 2.0), // dup id
        (3L, t("2026-01-01 10:04:00"), "c", 3.0),
      ).toDF("event_id", "ts", "event_type", "value")
      batch.write.mode("overwrite").parquet(dir.getAbsolutePath)
      val q = StreamingOps.dedupStream(spark, dir.getAbsolutePath,
          batch.schema, "1 hour", "event_id")
        .writeStream.format("memory").queryName("graft_sdedup_test")
        .outputMode("append").start()
      q.processAllAvailable()
      val ids = spark.table("graft_sdedup_test")
        .select("event_id").as[Long].collect().sorted
      q.stop()
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("streaming band-key dedup accumulates the batch bandFirstOwners table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-banddd").toFile
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      val b1 = Seq(
        (1L, t("2026-01-01 10:00:00"), "the quick brown fox jumps over the lazy dog"),
        (2L, t("2026-01-01 10:01:00"), "completely different text with no overlap at all"))
      val b2 = Seq(
        (3L, t("2026-01-01 10:02:00"), "the quick brown fox jumps over the lazy dog"), // dup of 1
        (4L, t("2026-01-01 10:03:00"), "alpha beta gamma delta epsilon zeta eta theta"))
      def df(rows: Seq[(Long, java.sql.Timestamp, String)]) =
        rows.toDF("doc_id", "ts", "text")
      // two ts-ordered micro-batches (arrival order == ts order)
      df(b1).coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.bandDedupStream(spark, dir.getAbsolutePath,
          df(b1).schema, watermark = "1 hour")
        .writeStream.format("memory").queryName("graft_banddd_test")
        .outputMode("append").start()
      q.processAllAvailable()
      df(b2).coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      q.processAllAvailable()
      val streamed = spark.table("graft_banddd_test")
        .select("band", "band_key", "owner_id")
        .as[(Int, String, Long)].collect().toSet
      q.stop()
      val batch = DedupOps.bandFirstOwners(df(b1 ++ b2), col("text"),
        col("doc_id"), col("ts"))
        .as[(Int, String, Long)].collect().toSet
      assert(streamed == batch)
      // the exact dup claimed no bucket: doc 3 owns nothing
      assert(!streamed.exists(_._3 == 3L))
      assert(streamed.exists(_._3 == 4L))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("streaming quality gate equals the batch filterPipeline on the same docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-qgate").toFile
    try {
      val b1 = Seq(
        (1L, "the quick brown fox jumps over the lazy dog and then the fox " +
          "runs far away into the deep green forest tonight"),
        (2L, "x"))
      val b2 = Seq(
        (3L, "this is another perfectly ordinary english sentence that " +
          "should clear the token and quality gates without any trouble at all"),
        (4L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"))
      def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      df(b1).coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.qualityGateStream(spark, dir.getAbsolutePath,
          df(b1).schema, minTokens = 10L, maxTokens = 1000L,
          minQuality = 0.3, langs = Seq("en", "de", "es", "fr"))
        .writeStream.format("memory").queryName("graft_qgate_test")
        .outputMode("append").start()
      q.processAllAvailable()
      df(b2).coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      q.processAllAvailable()
      val streamed = spark.table("graft_qgate_test")
        .as[(Long, String, Long, Double)].collect().toSet
      q.stop()
      val batch = TextOps.filterPipeline(df(b1 ++ b2), col("text"),
          col("doc_id"), minTokens = 10L, maxTokens = 1000L,
          minQuality = 0.3, langs = Seq("en", "de", "es", "fr"))
        .as[(Long, String, Long, Double)].collect().toSet
      assert(streamed == batch)
      // the gate actually gated: the 1-token and punctuation docs are out
      val kept = streamed.map(_._1)
      assert(kept.contains(1L) && kept.contains(3L))
      assert(!kept.contains(2L) && !kept.contains(4L))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("streaming: flatMapGroupsWithState running stats accumulate across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-state").toFile
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      def df(rows: Seq[(Long, java.sql.Timestamp, Long, Double)]) =
        rows.toDF("event_id", "ts", "user_id", "value")
      val b1 = Seq(
        (1L, t("2026-01-01 10:00:00"), 7L, 1.5),
        (2L, t("2026-01-01 10:01:00"), 7L, 2.25),
        (3L, t("2026-01-01 10:02:00"), 9L, 4.0))
      val b2 = Seq(
        (4L, t("2026-01-01 10:03:00"), 7L, 0.125),
        (5L, t("2026-01-01 10:04:00"), 9L, 1.0))
      df(b1).coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = graft.streaming.StreamingOps.runningUserStats(spark,
          dir.getAbsolutePath, df(b1).schema, watermark = "1 hour")
        .writeStream.format("memory").queryName("graft_state_test")
        .outputMode("update").start()
      q.processAllAvailable()
      df(b2).coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      q.processAllAvailable()
      // last update per user == the batch aggregate over ALL events
      val out = spark.table("graft_state_test")
        .groupBy("user_id")
        .agg(max_by(struct(col("n_events"), col("value_sum"), col("last_ts_ms")),
          col("n_events")).as("s"))
        .select(col("user_id"), col("s.n_events"), col("s.value_sum"),
          col("s.last_ts_ms"))
        .as[(Long, Long, Double, Long)].collect().toSet
      q.stop()
      val expect = (b1 ++ b2).groupBy(_._3).map { case (u, rs) =>
        (u, rs.size.toLong,
          rs.map(r => math.floor(r._4 * 1e6).toLong).sum.toDouble / 1e6,
          rs.map(_._2.getTime).max)
      }.toSet
      assert(out == expect)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("streaming: session_window sessionization matches batch sessions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sess").toFile
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      val batch = Seq(
        (1L, t("2026-01-01 10:00:00"), 7L, "a", 1.0),
        (2L, t("2026-01-01 10:10:00"), 7L, "a", 2.0), // same session (gap 30m)
        (3L, t("2026-01-01 11:30:00"), 7L, "a", 4.0), // new session
        (4L, t("2026-01-01 10:00:00"), 8L, "b", 8.0),
      ).toDF("event_id", "ts", "user_id", "event_type", "value")
      batch.write.mode("overwrite").parquet(dir.getAbsolutePath)
      val q = StreamingOps.sessionizeStream(spark, dir.getAbsolutePath,
          batch.schema, "30 minutes", "2 hours")
        .writeStream.format("memory").queryName("graft_sess_test")
        .outputMode("complete").start()
      q.processAllAvailable()
      val stream = spark.table("graft_sess_test")
        .select("user_id", "start_ms", "n_events", "value_sum")
        .as[(Long, Long, Long, Double)].collect().toSet
      q.stop()
      // batch sessionize over the same rows: session starts + aggregates
      // must agree (streaming end = last ts + gap, so compare starts)
      val b = StreamingOps.sessionize(batch, gapMs = 1800000L)
        .select("user_id", "start_ms", "n_events", "value_sum")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(stream == b, s"stream=$stream batch=$b")
      assert(stream.size == 3)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("streaming: tumbling aggregation runs incrementally under readStream") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toFile
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toFile
    try {
      val batch = Seq(
        (1L, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), "a", 1.5),
        (2L, java.sql.Timestamp.valueOf("2026-01-01 10:20:00"), "a", 2.5),
        (3L, java.sql.Timestamp.valueOf("2026-01-01 11:05:00"), "b", 4.0),
      ).toDF("event_id", "ts", "event_type", "value")
      batch.write.mode("overwrite").parquet(dir.getAbsolutePath)
      val q = StreamingOps.tumblingCountsStream(spark, dir.getAbsolutePath,
          batch.schema, "1 hour", "2 hours")
        .writeStream.format("memory").queryName("graft_tumbling_test")
        .outputMode("complete").start()
      q.processAllAvailable()
      val res = spark.table("graft_tumbling_test")
        .select("event_type", "cnt", "value_sum")
        .as[(String, Long, Double)].collect().toSet
      q.stop()
      assert(res == Set(("a", 2L, 4.0), ("b", 1L, 4.0)))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir); rm(out)
    }
  }

  test("dedupClusters distributed path matches the driver union-find path") {
    // chain + separate pair, forced through the iterative label-propagation
    // path with maxDriverPairs = 0
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("doc_a", "doc_b")
    val dist = DedupOps.dedupClusters(pairs, maxDriverPairs = 0L)
      .as[(Long, Long)].collect().toMap
    val local = DedupOps.dedupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(dist == local)
    graft.core.CacheScope.release()
  }

  test("kmeansAssign MLlib fallback agrees on cluster structure") {
    // two tight, well-separated blobs: both paths must put each blob in
    // one cluster (cluster IDS may differ between implementations)
    val r = new scala.util.Random(7)
    val pts = (0L until 40L).map { i =>
      val base = if (i < 20) 0.0 else 10.0
      (i, Array.fill(4)(base + r.nextDouble() * 0.1).map(_.toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    def groups(m: Map[Long, Long]): Set[Set[Long]] =
      m.groupBy(_._2).values.map(_.keySet.toSet).toSet
    val local = MlOps.kmeansAssign(df, col("embedding"), col("vec_id"),
      k = 2, seed = 42L).as[(Long, Long)].collect().toMap
    val dist = MlOps.kmeansAssign(df, col("embedding"), col("vec_id"),
      k = 2, seed = 42L, maxDriverRows = 0L).as[(Long, Long)].collect().toMap
    assert(groups(local) == groups(dist))
    assert(groups(local) == Set((0L until 20L).toSet, (20L until 40L).toSet))
  }

  test("semanticDedup through the MLlib kmeans regime matches the local regime") {
    // same fixture as the local-path semanticDedup spec; maxDriverRows = 0
    // forces the distributed estimator — cluster IDs may differ, but the
    // keeper set must not (keeper choice depends only on cell CONTENTS)
    val r = new scala.util.Random(11)
    val vs = (0 until 3).flatMap { c =>
      (0 until 10).map { j =>
        val id = c * 10L + j
        val v = Array.tabulate(16) { d =>
          val base = if (d == c) 100.0 else 0.0
          val spike = if (j >= 2 && d == 3 + (j - 2)) 15.0 else 0.0
          val noise = if (j == 1) r.nextGaussian() * 1e-3 else 0.0
          (base + spike + noise).toFloat
        }
        (id, v)
      }
    }
    val df = vs.toDF("vec_id", "embedding")
    def run(maxDriverRows: Long) =
      DedupOps.semanticDedup(df, col("embedding"), col("vec_id"),
        k = 3, minCosine = 0.999, seed = 42L, maxDriverRows = maxDriverRows)
        .select("vec_id").as[Long].collect().toSet
    val viaLocal = run(200000L)
    CacheScope.release()
    val viaMllib = run(0L)
    CacheScope.release()
    assert(viaLocal == viaMllib)
    assert(viaMllib == vs.map(_._1).toSet -- Set(1L, 11L, 21L))
  }

  test("decontamination: planted benchmark n-gram flags exactly its carriers") {
    val bench = Seq(
      (100L, "what is the capital of france paris is the capital")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "totally unrelated training text about completely other things entirely"),
      // carries a 6-token benchmark run ("what is the capital of france")
      (2L, "quiz says what is the capital of france and more words follow here"),
      (3L, "capital of france appears here but only four shared tokens max"), // < 5-gram
    ).toDF("doc_id", "text")
    val pairs = DedupOps.contaminationPairs(corpus, col("text"),
      col("doc_id"), bench, col("text"), col("doc_id"), n = 5)
      .as[(Long, Long, Long)].collect().toSet
    CacheScope.release()
    // doc 2 shares two distinct 5-grams of the planted 6-token run; doc 3's
    // longest shared run is 3 tokens -> no 5-gram; doc 1 nothing
    assert(pairs == Set((2L, 100L, 2L)))
    val kept = DedupOps.decontaminate(corpus, col("text"), col("doc_id"),
      bench, col("text"), col("doc_id"), n = 5)
      .select("doc_id").as[Long].collect().toSet
    CacheScope.release()
    assert(kept == Set(1L, 3L))
    // minShared raises the bar: requiring 3 shared 5-grams clears doc 2
    val keptStrict = DedupOps.decontaminate(corpus, col("text"),
      col("doc_id"), bench, col("text"), col("doc_id"), n = 5,
      minShared = 3)
      .select("doc_id").as[Long].collect().toSet
    CacheScope.release()
    assert(keptStrict == Set(1L, 2L, 3L))
    // the per-group report counts carriers without dropping clean groups
    val report = DedupOps.contaminationReport(
      corpus.withColumn("src", when(col("doc_id") === 1L, "a").otherwise("b")),
      col("text"), col("doc_id"), col("src"),
      bench, col("text"), col("doc_id"), n = 5)
      .as[(String, Long, Long, Double)].collect().toSet
    CacheScope.release()
    assert(report == Set(("a", 1L, 0L, 0.0), ("b", 2L, 1L, 0.5)))
    // the substring tier catches doc 3 too: "capital of france" is a
    // 17-char exact span even though its longest shared TOKEN run (3) is
    // below the 5-gram bar
    val spans = DedupOps.contaminationSpans(corpus, col("text"),
      col("doc_id"), bench, col("text"), col("doc_id"), k = 8, w = 4)
      .select("doc_id", "probe_id", "len")
      .as[(Long, Long, Long)].collect()
    CacheScope.release()
    assert(spans.exists(s => s._1 == 2L && s._2 == 100L && s._3 >= 29L))
    assert(spans.exists(s => s._1 == 3L && s._2 == 100L && s._3 >= 17L))
    assert(!spans.exists(_._1 == 1L))
  }

  test("jaccard stop-shingle cap: over-frequent shingles never pair") {
    // 30 docs sharing one 3-gram; cap 10 drops it, so no pairs at all
    val docs = (0L until 30L).map(i => (i, s"common shared trigram unique$i"))
      .toDF("doc_id", "text")
    val p = DedupOps.ngramJaccardPairs(docs, col("text"), col("doc_id"),
      k = 3, maxDocFreq = 10, minJaccard = 0.01)
    assert(p.count() == 0)
    // and with a generous cap the same docs DO pair on the shared shingle
    val p2 = DedupOps.ngramJaccardPairs(docs, col("text"), col("doc_id"),
      k = 3, maxDocFreq = 100, minJaccard = 0.01)
    assert(p2.count() == 30L * 29 / 2)
    graft.core.CacheScope.release()
  }

  test("dedup kernels tolerate null and empty texts") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, null),
      (3L, ""), (4L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    assert(DedupOps.ngramJaccardPairs(docs, col("text"), col("doc_id"),
      k = 3, maxDocFreq = 10, minJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet == Set((1L, 4L)))
    assert(DedupOps.minhashCandidates(docs, col("text"), col("doc_id"))
      .as[(Long, Long)].collect().toSet == Set((1L, 4L)))
    // empty text hashes like a one-shingle doc; null is excluded entirely
    assert(DedupOps.simhashCandidates(docs, col("text"), col("doc_id"))
      .count() >= 1)
    graft.core.CacheScope.release()
  }

  test("paragraph dedup: corpus-wide first occurrence wins, rebuild drops repeats") {
    val pd = Seq(
      (10L, "one two\n\nshared para\n\nthree"),
      (11L, "shared para\n\nunique eleven"),
      (12L, "  \n\nshared para"), // leading empty paragraph is dropped
    ).toDF("doc_id", "text")
    val inst = DedupOps.paragraphExact(pd, col("text"), col("doc_id"))
      .select("doc_id", "para_idx", "is_keeper", "dup_cnt")
      .as[(Long, Long, Boolean, Long)].collect().toSet
    // "shared para" appears in docs 10(idx1), 11(idx0), 12(idx0): keeper is
    // the (doc_id, para_idx)-first = (10, 1); group size 3
    assert(inst.contains((10L, 1L, true, 3L)))
    assert(inst.contains((11L, 0L, false, 3L)))
    assert(inst.contains((12L, 0L, false, 3L)))
    assert(inst.contains((10L, 0L, true, 1L))) // unique paragraphs survive
    val rebuilt = DedupOps.paragraphDedupedText(pd, col("text"), col("doc_id"))
      .as[(Long, String)].collect().toMap
    assert(rebuilt(10L) == "one two\nshared para\nthree")
    assert(rebuilt(11L) == "unique eleven")
    assert(rebuilt(12L) == "") // all paragraphs were duplicates
  }

  test("simhashPairs: Hamming confirm keeps near-dups, cuts band-collision noise") {
    val sp = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2L, "the quick brown fox jumps over the lazy cat and runs away fast"),
      (3L, "completely unrelated legal boilerplate about contract termination"),
    ).toDF("doc_id", "text")
    val cand = DedupOps.simhashCandidates(sp, col("text"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    // maxHamming > 3 requires the explicit approxRecall opt-in...
    intercept[IllegalArgumentException] {
      DedupOps.simhashPairs(sp, col("text"), col("doc_id"), maxHamming = 20)
    }
    // ...which acknowledges banding-bounded recall
    val confirmed = DedupOps.simhashPairs(sp, col("text"), col("doc_id"),
      maxHamming = 20, approxRecall = true).as[(Long, Long, Long)].collect()
    // confirm stage is a pure filter over the candidate set
    assert(confirmed.map(p => (p._1, p._2)).toSet.subsetOf(cand))
    // the exact dup survives at distance 0
    val nd = confirmed.find(p => p._1 == 0L && p._2 == 1L)
    assert(nd.nonEmpty && nd.get._3 == 0L)
    // hamming values agree with a direct popcount over the signatures
    val sigs = sp.select(col("doc_id"),
        DedupOps.simhash60(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    confirmed.foreach { case (a, b, h) =>
      assert(java.lang.Long.bitCount(sigs(a) ^ sigs(b)) == h)
    }
    graft.core.CacheScope.release()
  }

  test("winnowing: shared substring >= w+k-1 chars implies shared fingerprint") {
    val wd = Seq(
      (1L, "the common phrase appears here in document one"),
      (2L, "document two also has the common phrase appears inside"),
      (3L, "zzz qqq xxx vvv"), // no 11-char overlap with 1 or 2
      (4L, "tiny"),            // shorter than k=8: no fingerprints
      (5L, "exactly11ch"),     // 11 chars → nh=4 <= w: single fingerprint
    ).toDF("doc_id", "text")
    val fps = DedupOps.winnowFingerprints(wd, col("text"), col("doc_id"),
      k = 8, w = 4)
      .as[(Long, Long, Long)].collect()
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    // guarantee: docs 1 and 2 share "the common phrase appears" (>= 11)
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    assert(!byDoc.contains(4L))
    assert(fps.count(_._1 == 5L) == 1)
    // density: every full window contributed, selections are distinct
    assert(fps.map(p => (p._1, p._2)).distinct.length == fps.length)
    val pairs = DedupOps.winnowPairs(wd, col("text"), col("doc_id"),
      k = 8, w = 4, minSharedFps = 1).as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 1L))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    graft.core.CacheScope.release()
    // the in-aggregate threshold drops pairs below minSharedFps
    val n12 = pairs.find(p => p._1 == 1L && p._2 == 2L).get._3
    val thresholded = DedupOps.winnowPairs(wd, col("text"), col("doc_id"),
      k = 8, w = 4, minSharedFps = n12 + 1).as[(Long, Long, Long)].collect()
    assert(!thresholded.exists(p => p._1 == 1L && p._2 == 2L))
    graft.core.CacheScope.release()
  }

  test("sharedSpans: planted cross-document span recovered exactly; removal cuts it") {
    val planted = "this exact sentence is shared across both documents verbatim"
    val a = "AAA prefix text unlike anything. " + planted + " unique a-side tail."
    val b = "totally different opening here; " + planted + " and then b continues."
    val c = "no overlap with the others whatsoever, completely distinct prose."
    val wd = Seq((10L, a), (20L, b), (30L, c)).toDF("doc_id", "text")
    val spans = DedupOps.sharedSpans(wd, col("text"), col("doc_id"),
      k = 8, w = 4)
      .as[(Long, Long, Long, Long, Long)].collect()
    CacheScope.release()
    // exactly one maximal span, between 10 and 20, exactly the planted
    // sentence padded by the shared single spaces around it
    assert(spans.length == 1)
    val (da, db, sa, sbb, len) = spans.head
    assert((da, db) == (10L, 20L))
    val aL = a.toLowerCase; val bL = b.toLowerCase
    assert(aL.substring(sa.toInt, (sa + len).toInt) ==
      bL.substring(sbb.toInt, (sbb + len).toInt))
    assert(aL.substring(sa.toInt, (sa + len).toInt).contains(planted))
    // maximality: extending one char either side breaks the match
    assert(sa == 0 || sbb == 0 || aL.charAt(sa.toInt - 1) != bL.charAt(sbb.toInt - 1))
    assert(aL.charAt((sa + len).toInt) != bL.charAt((sbb + len).toInt))
    // removal: span cut from the HIGHER-id doc only, keeper intact
    val rebuilt = DedupOps.spanDedupedText(wd, col("text"), col("doc_id"),
      k = 8, w = 4)
      .as[(Long, String)].collect().toMap
    CacheScope.release()
    assert(rebuilt(10L) == aL)
    assert(rebuilt(30L) == c.toLowerCase)
    assert(!rebuilt(20L).contains(planted))
    assert(rebuilt(20L) == bL.substring(0, sbb.toInt) + bL.substring((sbb + len).toInt))
    // overlapping-interval merge: two overlapping removals become one cut
    val iv = Seq((1L, 2L, 0L, 10L, 20L), (1L, 2L, 0L, 25L, 20L))
      .toDF("doc_a", "doc_b", "start_a", "start_b", "len")
    val merged = DedupOps.spanRemovals(iv)
      .as[(Long, Long, Long)].collect().toSeq
    assert(merged == Seq((2L, 10L, 35L)))
  }

  test("sharedSpans: single-char edit yields BOTH runs on one diagonal; repetitive text bounded") {
    // near-identical docs differing by ONE substituted char: the match grid
    // has two maximal runs on the SAME diagonal — a per-diagonal seed
    // collapse would lose one of them
    val head = "the quick brown fox jumps over the lazy dog near the river"
    val tail = "while seventeen geese wander across the frozen meadow slowly"
    val a = head + " X " + tail
    val b = head + " Y " + tail
    val wd = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val spans = DedupOps.sharedSpans(wd, col("text"), col("doc_id"),
      k = 8, w = 4)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._3)
    CacheScope.release()
    assert(spans.length == 2)
    // run 1: [0, head+1) including the trailing shared space; run 2 from
    // after the edit to the end — both on diagonal 0
    assert(spans(0) == ((1L, 2L, 0L, 0L, head.length + 1L)))
    assert(spans(1) == ((1L, 2L, head.length + 2L, head.length + 2L,
      tail.length + 1L)))
    // low-entropy page: one repeated gram at every position must not blow
    // up — spans come out as one run per surviving diagonal, deduped
    val rep = "ab" * 300 // 600 chars, k-gram "abababab" everywhere
    val wr = Seq((1L, rep + "PQRSTUV"), (2L, rep + "JKLMNOP"))
      .toDF("doc_id", "text")
    val rspans = DedupOps.sharedSpans(wr, col("text"), col("doc_id"),
      k = 8, w = 4, minLen = 550)
      .as[(Long, Long, Long, Long, Long)].collect()
    CacheScope.release()
    // diagonals 0, ±2, …: runs of length 600 - |diag| ≥ 550 → 51 diagonals
    assert(rspans.length == 51)
    assert(rspans.forall { case (_, _, sa, sbb, len) =>
      len == 600L - math.abs(sa - sbb) && (sa == 0L || sbb == 0L)
    })
    // and each diagonal surfaced exactly once
    assert(rspans.map(s => s._3 - s._4).distinct.length == 51)
  }

  test("CacheScope.scoped releases only the scope's own frames, promotes keeps") {
    val outside = CacheScope.persist(spark.range(5).toDF("v"), eager = true)
    assert(outside.storageLevel.useMemory)
    val kept = CacheScope.scoped { scope =>
      val inner = CacheScope.persist(spark.range(7).toDF("w"), eager = true)
      assert(inner.storageLevel.useMemory)
      val keep = spark.range(3).toDF("k")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      keep.count()
      scope.releaseExcept(keep)
      // inner dropped, caller's frame untouched, keep still cached
      assert(!inner.storageLevel.useMemory)
      assert(outside.storageLevel.useMemory)
      assert(keep.storageLevel.useMemory)
      keep
    }
    // the promoted keep is now globally registered: release() drops it
    // along with the caller's own frame
    CacheScope.release()
    assert(!kept.storageLevel.useMemory)
    assert(!outside.storageLevel.useMemory)
  }

  test("bpeTrain learns hand-computed merges; bpeTokens applies them greedily") {
    // corpus: low x3, lower x2, newest x4, widest x1 (the classic fixture)
    val corpus = Seq(
      (1L, "low low low newest newest"),
      (2L, "lower lower newest newest widest")).toDF("doc_id", "text")
    // round 1: we=6 wins; round 2: lo=5 ties st=5, lexicographic -> (l,o);
    // round 3: st=5
    val merges = TextOps.bpeTrain(corpus, col("text"), numMerges = 3)
    CacheScope.release()
    assert(merges == Seq(("w", "e"), ("l", "o"), ("s", "t")))
    val toks = TextOps.bpeTokens(
      Seq((1L, "newest Lowest")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), merges)
      .as[(Long, Seq[String])].collect().head._2
    assert(toks == Seq("n", "e", "we", "st", "lo", "we", "st"))
    // determinism + exhaustion: training far past the pair supply stops
    val all = TextOps.bpeTrain(corpus, col("text"), numMerges = 100)
    CacheScope.release()
    assert(all.take(3) == merges && all.length < 100)
    // real token counts feed sequence packing
    val counts = TextOps.bpeTokens(corpus, col("text"), col("doc_id"), merges)
      .select(col("doc_id"), size(col("tokens")).as("n"))
    val packed = TextOps.packPlanCounts(counts, col("n"), col("doc_id"),
      budget = 10).as[(Long, Long, Long, Long, Boolean)].collect()
      .sortBy(_._1)
    // doc1: low,low,low,newest,newest -> 2+2+2+4+4 = 14 tokens
    assert(packed.head == (1L, 14L, 0L, 0L, true))
  }

  test("tokenFrequencyScore: exact corpus-frequency means and minima") {
    val tf = Seq((1L, "a a b"), (2L, "a c"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextOps.tokenFrequencyScore(tf, col("text"), col("doc_id"))
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1).toSeq
    // corpus: a×3, b×1, c×1 → doc1 mean (3+3+1)/3, doc2 (3+1)/2; null: no row
    assert(out == Seq((1L, 3L, 2.333333, 1L), (2L, 2L, 2.0, 1L)))
    graft.core.CacheScope.release()
  }

  test("qualityTiers: exact rank tertiles, higher quality in lower tier") {
    // six docs with strictly increasing quality (longer → higher length
    // term, no punctuation, same stop ratio of zero)
    val qd = (1 to 6).map(i => (i.toLong, Seq.fill(i * 30)("word").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.qualityTiers(qd, col("text"), col("doc_id"), tiers = 3)
      .as[(Long, Double, Long)].collect()
    assert(out.map(_._3).sorted.toSeq == Seq(0L, 0L, 1L, 1L, 2L, 2L))
    // tier is antitone in quality
    val byTier = out.groupBy(_._3).view.mapValues(_.map(_._2).min).toMap
    assert(byTier(0L) >= byTier(1L) && byTier(1L) >= byTier(2L))
    graft.core.CacheScope.release()
  }

  test("persisted IVF index reproduces ivfTopK exactly; scan prunes to probed cells") {
    val r = new scala.util.Random(3)
    val df = (0L until 60L).map(i =>
      (i, Array.fill(8)(r.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val cents = df.where(col("vec_id") < 4)
    val queries = df.where(col("vec_id") >= 50)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    SimilarityOps.ivfIndexWrite(df, col("embedding"), col("vec_id"),
      cents, col("embedding"), col("vec_id"), idx)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "neighbor_id", "cos", "rank")
        .as[(Long, Long, Double, Int)].collect().sortBy(p => (p._1, p._4)).toSeq
    val viaIndex = rows(SimilarityOps.ivfSearchIndex(spark, idx,
      cents, col("embedding"), col("vec_id"),
      queries, col("embedding"), col("vec_id"), k = 5, nprobe = 2))
    val direct = rows(SimilarityOps.ivfTopK(df, col("embedding"), col("vec_id"),
      cents, col("embedding"), col("vec_id"),
      queries, col("embedding"), col("vec_id"), k = 5, nprobe = 2))
    assert(viaIndex.nonEmpty && viaIndex == direct)
    // the drift-proof overload (quantizer loaded FROM the index) agrees
    val viaOwn = rows(SimilarityOps.ivfSearchIndex(spark, idx,
      queries, col("embedding"), col("vec_id"), k = 5, nprobe = 2))
    assert(viaOwn == direct)
    // the cell is a parquet PARTITION column: a cell predicate must show up
    // as a partition filter (pruned directories), not a data filter
    val plan = spark.read.parquet(idx).where(col("centroid_id") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"))
  }

  test("repetitionFeatures: duplicate paragraphs and dominant bigrams measured exactly") {
    val rp = Seq(
      (1L, "a b\n\na b\n\nc d"), // paras [a b, a b, c d]; tokens a b a b c d
      (2L, "x y z"),             // no repetition
      (3L, null.asInstanceOf[String]),
    ).toDF("doc_id", "text")
    val all = TextOps.repetitionFeatures(rp, col("text"), col("doc_id"))
      .collect()
    val out = all.filter(!_.isNullAt(1)).map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // doc 1: 6 tokens, 3 paras, 1 dup para (1/3), bigram "a b" twice → 4/6
    assert(out(1L) == ((6L, 3L, 0.333333, 0.666667)))
    // doc 2: 3 tokens, 1 para, no dups, every bigram once → 2/3
    assert(out(2L) == ((3L, 1L, 0.0, 0.666667)))
    // null text: the row survives with every feature null
    val nullRow = all.filter(_.getLong(0) == 3L)
    assert(nullRow.length == 1 && nullRow(0).isNullAt(1))
  }

  test("fuzzyDedup: exact dups merge, sub-threshold near-dups survive; confirm filters candidates") {
    // docs fixture: 0 == 3 exactly (jaccard 1.0); 1 is a near-dup of 0 —
    // only the final token changed, so 6 of 8 union 3-shingles are shared
    // (jaccard 0.75)
    val kept8 = DedupOps.fuzzyDedup(docs, col("text"), col("doc_id"),
      minJaccard = 0.8).select("doc_id").as[Long].collect().sorted
    assert(kept8.toSeq == Seq(0L, 1L, 2L)) // 3 merged into 0; 1 below 0.8
    graft.core.CacheScope.release()
    val kept5 = DedupOps.fuzzyDedup(docs, col("text"), col("doc_id"),
      minJaccard = 0.5).select("doc_id").as[Long].collect().sorted
    assert(kept5.toSeq == Seq(0L, 2L)) // 0.75 >= 0.5: 1 merges too
    graft.core.CacheScope.release()
    // the confirm stage reports the exact jaccard for candidate pairs
    val cj = DedupOps.confirmJaccard(docs, col("text"), col("doc_id"),
      DedupOps.minhashCandidates(docs, col("text"), col("doc_id")),
      minJaccard = 0.2).as[(Long, Long, Double)].collect()
    assert(cj.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 1.0))
    graft.core.CacheScope.release()
  }

  test("incremental dedup against a persisted index == full-corpus dedup restricted to new docs") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text with no overlap at all"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta"),
    ).toDF("doc_id", "text")
    val shard = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // dup of indexed 0
      (3L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 4
      (5L, "alpha beta gamma delta epsilon zeta eta iota"), // dup of new 3
      (7L, "nothing like anything else in any shard here today"),
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mh_idx").toString
    DedupOps.minhashIndexWrite(corpus, col("text"), col("doc_id"), idx)
    val inc = DedupOps.minhashCandidatesAgainst(idx, shard,
      col("text"), col("doc_id")).as[(Long, Long)].collect().toSet
    val newIds = Set(1L, 3L, 5L, 7L)
    val full = DedupOps.minhashCandidates(corpus.unionByName(shard),
        col("text"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
      .filter(p => newIds(p._1) || newIds(p._2))
    assert(inc == full && inc.contains((0L, 1L)) && inc.contains((3L, 5L)))
    graft.core.CacheScope.release()
    // append the shard, then a THIRD shard dedups against the updated index
    DedupOps.minhashIndexAppend(shard, col("text"), col("doc_id"), idx)
    val shard2 = Seq(
      (9L, "the quick brown fox jumps over the lazy dog"), // dup of 0 AND 1
    ).toDF("doc_id", "text")
    val inc2 = DedupOps.minhashCandidatesAgainst(idx, shard2,
      col("text"), col("doc_id")).as[(Long, Long)].collect().toSet
    assert(inc2 == Set((0L, 9L), (1L, 9L)))
    graft.core.CacheScope.release()
    // mismatched signature parameters must fail loudly, not read as 0 dups
    intercept[IllegalArgumentException] {
      DedupOps.minhashCandidatesAgainst(idx, shard2, col("text"),
        col("doc_id"), numHashes = 32, bands = 8)
    }
  }

  test("incremental winnow/simhash tiers reuse the persisted-index pattern") {
    val planted = "this exact sentence is shared across both documents verbatim"
    val corpus = Seq(
      (0L, "AAA prefix unlike anything. " + planted + " unique a-side tail."),
      (2L, "completely different text with no overlap at all in this doc"),
    ).toDF("doc_id", "text")
    val shard = Seq(
      (1L, "totally different opening; " + planted + " and then b continues."),
      (3L, "nothing like anything else in any shard here today at all"),
    ).toDF("doc_id", "text")
    val wIdx = java.nio.file.Files
      .createTempDirectory("graft_wn_idx").toString
    DedupOps.winnowIndexWrite(corpus, col("text"), col("doc_id"), wIdx,
      k = 8, w = 4)
    val inc = DedupOps.winnowCandidatesAgainst(wIdx, shard, col("text"),
      col("doc_id"), k = 8, w = 4, minSharedFps = 1)
      .as[(Long, Long, Long)].collect().toSet
    graft.core.CacheScope.release()
    val newIds = Set(1L, 3L)
    val full = DedupOps.winnowPairs(corpus.unionByName(shard), col("text"),
      col("doc_id"), k = 8, w = 4, minSharedFps = 1)
      .as[(Long, Long, Long)].collect().toSet
      .filter(p => newIds(p._1) || newIds(p._2))
    graft.core.CacheScope.release()
    assert(inc == full && inc.exists(p => p._1 == 0L && p._2 == 1L))
    // append keeps the index current for the next shard
    DedupOps.winnowIndexAppend(shard, col("text"), col("doc_id"), wIdx,
      k = 8, w = 4)
    val shard2 = Seq(
      (5L, "yet another opening! " + planted + " closing differently.")
    ).toDF("doc_id", "text")
    val inc2 = DedupOps.winnowCandidatesAgainst(wIdx, shard2, col("text"),
      col("doc_id"), k = 8, w = 4, minSharedFps = 1)
      .as[(Long, Long, Long)].collect().toSet
    graft.core.CacheScope.release()
    val full2 = DedupOps.winnowPairs(
      corpus.unionByName(shard).unionByName(shard2), col("text"),
      col("doc_id"), k = 8, w = 4, minSharedFps = 1)
      .as[(Long, Long, Long)].collect().toSet
      .filter(p => p._1 == 5L || p._2 == 5L)
    graft.core.CacheScope.release()
    assert(inc2 == full2)
    assert(Set((0L, 5L), (1L, 5L)).subsetOf(inc2.map(p => (p._1, p._2))))
    // parameter mismatch fails loudly
    intercept[IllegalArgumentException] {
      DedupOps.winnowCandidatesAgainst(wIdx, shard2, col("text"),
        col("doc_id"), k = 25, w = 4)
    }
    // simhash tier: same pattern, Hamming-confirmed against stored sigs
    val sIdx = java.nio.file.Files
      .createTempDirectory("graft_sh_idx").toString
    val exact = Seq((4L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    DedupOps.simhashIndexWrite(corpus.unionByName(exact), col("text"),
      col("doc_id"), sIdx)
    val shShard = Seq(
      (7L, "the quick brown fox jumps over the lazy dog"), // dup of 4
      (9L, "the quick brown fox jumps over the lazy dog"), // dup of 4 and 7
    ).toDF("doc_id", "text")
    val shInc = DedupOps.simhashCandidatesAgainst(sIdx, shShard,
      col("text"), col("doc_id"), maxHamming = 0)
      .as[(Long, Long, Long)].collect().toSet
    graft.core.CacheScope.release()
    assert(shInc == Set((4L, 7L, 0L), (4L, 9L, 0L), (7L, 9L, 0L)))
    intercept[IllegalArgumentException] {
      DedupOps.simhashCandidatesAgainst(sIdx, shShard, col("text"),
        col("doc_id"), maxHamming = 20) // needs approxRecall
    }
  }

  test("NB classifier: distinctive vocab wins; priors break vocab ties; model broadcasts") {
    val train = Seq(
      ("spam", "buy cheap pills now buy now"),
      ("spam", "cheap pills cheap deals"),
      ("ham", "meeting notes for the quarterly review"),
      ("ham", "please review the meeting agenda"),
      ("ham", "agenda for the review meeting"),
    ).toDF("label", "text")
    val test = Seq(
      (0L, "cheap pills"),            // spam vocabulary
      (1L, "review the meeting"),     // ham vocabulary
      // all tokens unseen → per-token smoothing mass ln(α/(n_c+αV)) decides:
      // spam's smaller token total (10 vs 16) beats ham's larger prior
      // (ln(2/5)−3ln23 = −10.32 > ln(3/5)−3ln29 = −10.61)
      (2L, "zzz qqq www"),
    ).toDF("doc_id", "text")
    val out = MlOps.nbClassify(train, col("text"), col("label"),
      test, col("text"), col("doc_id"))
    assert(out.select("doc_id", "pred_label").as[(Long, String)]
      .collect().toMap == Map(0L -> "spam", 1L -> "ham", 2L -> "spam"))
    // the model join must be broadcast (no shuffle on the token join)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("stratified + temperature sampling: exact class semantics, deterministic") {
    // skewed classes: a=400, b=100, c=25 (hash-scattered ids)
    val rows = (0 until 525).map { i =>
      val cls = if (i < 400) "a" else if (i < 500) "b" else "c"
      (i * 2654435761L % 1000003L, cls)
    }
    val df = rows.toDF("id", "cls").repartition(5)
    // fraction 1.0 keeps the whole class, 0.0 drops it, default applies
    val s1 = SplitOps.stratifiedSample(df, col("cls"), col("id"), 3L,
      Map("a" -> 1.0, "b" -> 0.0), default = 0.5)
      .groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(s1("a") == 400L && !s1.contains("b"))
    assert(s1("c") > 0L && s1("c") < 25L)
    // deterministic: same seed → same kept set; different seed → different
    val k1 = SplitOps.stratifiedSample(df, col("cls"), col("id"), 3L,
      Map("a" -> 0.5)).select("id").as[Long].collect().toSet
    val k2 = SplitOps.stratifiedSample(df, col("cls"), col("id"), 3L,
      Map("a" -> 0.5)).select("id").as[Long].collect().toSet
    val k3 = SplitOps.stratifiedSample(df, col("cls"), col("id"), 4L,
      Map("a" -> 0.5)).select("id").as[Long].collect().toSet
    assert(k1 == k2 && k1 != k3)
    // alpha = 1: identity (every fraction 1)
    assert(SplitOps.temperatureSample(df, col("cls"), col("id"), 5L,
      alpha = 1.0).count() == 525L)
    // alpha = 0.5: smallest class intact; kept ∝ n^0.5 ⇒ expected
    // a: 400·(25/400)^.5 = 100, b: 100·(25/100)^.5 = 50, c: 25
    val t = SplitOps.temperatureSample(df, col("cls"), col("id"), 5L,
      alpha = 0.5).groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(t("c") == 25L)
    assert(math.abs(t("a") - 100L) < 40 && math.abs(t("b") - 50L) < 25)
    // quota: exact cap on big classes, small classes untouched; the
    // rank<=k predicate must plan as WindowGroupLimit (O(k) per class)
    val q = SplitOps.quotaSample(df, col("cls"), col("id"), 5L, k = 50)
    assert(q.groupBy("cls").count().as[(String, Long)].collect().toMap ==
      Map("a" -> 50L, "b" -> 50L, "c" -> 25L))
    assert(q.queryExecution.optimizedPlan.toString.contains("WindowGroupLimit"))
    // deterministic: same seed twice → identical kept set
    assert(SplitOps.quotaSample(df, col("cls"), col("id"), 5L, 50)
      .select("id").as[Long].collect().toSet ==
      q.select("id").as[Long].collect().toSet)
  }

  test("PQ: codes are exact subspace argmin; ADC ranks an identical twin first") {
    // dim 8, m = 2 subspaces of 4; codebook = 2 entries per subspace from
    // vectors 0 and 1
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val base = Seq(
      (0L, v(1, 0, 0, 0, 0, 1, 0, 0)),
      (1L, v(0, 0, 1, 0, 0, 0, 0, 1)),
      (2L, v(1, 0.1, 0, 0, 0, 1, 0.1, 0)),  // near 0
      (3L, v(0, 0.1, 1, 0, 0.1, 0, 0, 1)),  // near 1
    ).toDF("vec_id", "embedding")
    val cb = base.where(col("vec_id") < 2)
      .select(col("vec_id").as("code_id"), col("embedding").as("e"))
      .select(explode(sequence(lit(0), lit(1))).as("sub"), col("code_id"),
        col("e"))
      .select(col("sub"), col("code_id"),
        slice(col("e"), col("sub") * 4 + 1, lit(4)).as("cv"))
    val codes = SimilarityOps.pqEncode(base, col("embedding"),
      col("vec_id"), cb, m = 2, subDim = 4)
    val cm = codes.select("vec_id", "sub", "code")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).map(_._3).toSeq }
    // each vector's codes: 0 and 2 quantize to code 0, 1 and 3 to code 1
    assert(cm(0L) == Seq(0L, 0L) && cm(2L) == Seq(0L, 0L))
    assert(cm(1L) == Seq(1L, 1L) && cm(3L) == Seq(1L, 1L))
    // ADC from query 0: vector 2 shares its codes → adist = LUT distance
    // to code 0 in both subspaces, strictly below vectors 1/3's
    val top = SimilarityOps.pqTopK(codes.select("vec_id", "sub", "code"),
      cb, base.where(col("vec_id") === 0), col("embedding"), col("vec_id"),
      k = 3, m = 2, subDim = 4)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(top.head == 2L)
  }

  test("tfidfTopTerms: rare terms outrank common; ubiquitous terms score 0") {
    val df = Seq(
      (0L, "common common rare1"),
      (1L, "common midfreq rare2"),
      (2L, "common midfreq filler"),
      (3L, "common alone alone alone"),
    ).toDF("doc_id", "text")
    val out = TextOps.tfidfTopTerms(df, col("text"), col("doc_id"), k = 2)
      .as[(Long, String, Double, Long)].collect()
      .groupBy(_._1).map { case (d, v) => d -> v.sortBy(_._4).map(_._2).toSeq }
    // doc 0: rare1 (df=1) beats common (df=4 → idf=0)
    assert(out(0L).head == "rare1")
    // doc 3: alone tf=3, df=1 → ln4*3 dominates
    assert(out(3L).head == "alone")
    // "common" appears in every doc → idf = ln(1) = 0 everywhere
    val scores = TextOps.tfidfTopTerms(df, col("text"), col("doc_id"), 10)
      .where(col("term") === "common").select("tfidf").as[Double].collect()
    assert(scores.forall(_ == 0.0))
    // rank <= k plans as WindowGroupLimit
    assert(TextOps.tfidfTopTerms(df, col("text"), col("doc_id"), 2)
      .queryExecution.optimizedPlan.toString.contains("WindowGroupLimit"))
  }

  test("approxDistinctTokens: HLL estimate within rsd; partial agg map-side") {
    // 3 classes, known vocab sizes 1 / 26 / 100
    val rows =
      (0 until 50).map(i => ("one", "solo")) ++
      (0 until 100).map(i => ("alpha", ('a' + i % 26).toChar.toString)) ++
      (0 until 200).map(i => ("wide", s"w${i % 100}"))
    val df = rows.toDF("cls", "text").repartition(5)
    val est = TextOps.approxDistinctTokens(df, col("text"), col("cls"),
      rsd = 0.02).as[(String, Long)].collect().toMap
    assert(est("one") == 1L)
    assert(math.abs(est("alpha") - 26L) <= 2)
    assert(math.abs(est("wide") - 100L) <= 6)
    // sketches merge in a partial aggregate — tokens never shuffle
    val plan = TextOps.approxDistinctTokens(df, col("text"), col("cls"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_approx_count_distinct"))
  }

  test("exact incremental index: bloom-prefiltered result == plain anti-join") {
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_ex_idx").toString
    val corpus = Seq(
      (0L, "the quick brown fox"), (1L, "jumps over the lazy dog"),
      (2L, "completely different text")).toDF("doc_id", "text")
    DedupOps.exactIndexWrite(corpus, col("text"), col("doc_id"), idxDir)
    val shard = Seq(
      (10L, "the quick brown fox"),      // dup of 0 → removed
      (11L, "brand new document one"),   // new
      (12L, "brand new document two"),   // new
      (13L, "jumps over the lazy dog"),  // dup of 1 → removed
    ).toDF("doc_id", "text")
    val kept = DedupOps.exactNewAgainst(idxDir, shard, col("text"),
      col("doc_id")).select("doc_id").as[Long].collect().toSet
    graft.core.CacheScope.release()
    assert(kept == Set(11L, 12L))
    // the shuffle fallback produces the identical set
    val keptShuffle = DedupOps.exactNewAgainst(idxDir, shard, col("text"),
      col("doc_id"), maxBroadcastKeys = 0L)
      .select("doc_id").as[Long].collect().toSet
    graft.core.CacheScope.release()
    assert(keptShuffle == kept)
    // append the kept shard; re-running against the grown index drops them
    DedupOps.exactIndexAppend(
      shard.where(col("doc_id").isin(11L, 12L)), col("text"),
      col("doc_id"), idxDir)
    val again = DedupOps.exactNewAgainst(idxDir, shard, col("text"),
      col("doc_id")).select("doc_id").as[Long].collect().toSet
    graft.core.CacheScope.release()
    assert(again == Set.empty[Long])
  }

  test("chunkDocs: overlap windows, short tail, single-chunk short docs") {
    val df = Seq(
      (0L, "a b c d e f g h i j"), // 10 tokens: chunks of 4, stride 3
      (1L, "x y"),                 // shorter than one window
      (2L, "p q r s"),             // exactly one window
    ).toDF("doc_id", "text")
    val out = TextOps.chunkDocs(df, col("text"), col("doc_id"),
      chunkTokens = 4, overlap = 1)
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).toSeq }
    // ceil((10-1)/3) = 3 chunks; starts 0,3,6; last has 4 tokens exactly
    assert(out(0L) == Seq((0L, 0L, 4L, "a b c d"), (0L, 1L, 4L, "d e f g"),
      (0L, 2L, 4L, "g h i j")))
    assert(out(1L) == Seq((1L, 0L, 2L, "x y")))
    assert(out(2L) == Seq((2L, 0L, 4L, "p q r s")))
    // 11 tokens: 4 chunks, final chunk short (2 tokens, overlap 1)
    val out2 = TextOps.chunkDocs(
      Seq((9L, "a b c d e f g h i j k")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), 4, 1)
      .as[(Long, Long, Long, String)].collect().sortBy(_._2)
    assert(out2.map(_._4).toSeq == Seq("a b c d", "d e f g", "g h i j", "j k"))
    assert(out2.map(_._3).toSeq == Seq(4L, 4L, 4L, 2L))
  }

  test("heavyHitters: exact counts at threshold; long tail never surfaces") {
    // 100 docs of one "hot" token each + tail tokens unique per doc:
    // N = 300 tokens; hot freq 100/300 = 1/3, "warm" 50/300 = 1/6,
    // each tail token 1/300
    val rows = (0 until 100).map { i =>
      val warm = if (i % 2 == 0) "warm" else s"tail_a_$i"
      (i.toLong, s"hot $warm tail_b_$i")
    }
    val df = rows.toDF("doc_id", "text").repartition(7)
    val hh = TextOps.heavyHitters(df, col("text"), phi = 0.1)
      .as[(String, Long)].collect().toMap
    assert(hh == Map("hot" -> 100L, "warm" -> 50L)) // threshold ceil(30)
    // tighter phi keeps only the hot token
    val hh2 = TextOps.heavyHitters(df, col("text"), phi = 0.2)
      .as[(String, Long)].collect().toMap
    assert(hh2 == Map("hot" -> 100L))
    // phi at exactly the warm ratio: >= is inclusive (ceil(1/6*300)=50)
    val hh3 = TextOps.heavyHitters(df, col("text"), phi = 1.0 / 6.0)
      .as[(String, Long)].collect().toMap
    assert(hh3 == Map("hot" -> 100L, "warm" -> 50L))
  }

  test("PII scan counts and redaction sentinels on planted text") {
    val pii = Seq(
      (0L, "mail me at a.b+c@sub.example.org or call +44 208-555-1234 now"),
      (1L, "server at 192.168.0.1 and 10.0.0.255; version 1.2 is fine"),
      (2L, "no pii here, just words and the number 12345"),
      (3L, "two mails: x@y.io, zz@w-w.co.uk and ip 8.8.8.8"),
      (4L, "write a@1.2.3.4.com or +1 555-123-4567 x"), // quad inside email
      (5L, null),
    ).toDF("doc_id", "text")
    val scan = PiiOps.scan(pii, col("text"), col("doc_id"))
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(scan(0) == ((0L, 1L, 0L, 1L, true)))
    assert(scan(1) == ((1L, 0L, 2L, 0L, true))) // "version 1.2" not an IP
    assert(scan(2) == ((2L, 0L, 0L, 0L, false)))
    assert(scan(3) == ((3L, 2L, 1L, 0L, true)))
    // the dotted quad is part of the email match — counted once, as email
    assert(scan(4) == ((4L, 1L, 0L, 1L, true)))
    assert(scan(5) == ((5L, 0L, 0L, 0L, false))) // null text: clean
    val red = PiiOps.redact(pii, col("text"), col("doc_id"))
      .as[(Long, String)].collect().toMap
    assert(red(0L) == "mail me at <EMAIL> or call <PHONE> now")
    assert(red(1L) == "server at <IP> and <IP>; version 1.2 is fine")
    assert(red(2L) == "no pii here, just words and the number 12345")
    assert(red(3L) == "two mails: <EMAIL>, <EMAIL> and ip <IP>")
    assert(red(4L) == "write <EMAIL> or <PHONE> x") // no <IP> inside the email
    assert(red(5L) == null)
    // filter at maxMatches=0 keeps the clean doc and the null-text doc
    assert(PiiOps.filter(pii, col("text")).select("doc_id")
      .as[Long].collect().toSeq.sorted == Seq(2L, 5L))
  }

  test("keepBestInClusters keeps the arg-max member, id tie-break, isolates survive") {
    val corpus = Seq(
      (0L, "aa", 5L), (1L, "bb", 9L), (2L, "cc", 9L), // cluster {0,1,2}: 1 wins (score tie 1 vs 2 → lower id)
      (3L, "dd", 1L),                                 // isolated: survives
      (4L, "ee", 2L), (5L, "ff", 7L),                 // cluster {4,5}: 5 wins
    ).toDF("doc_id", "text", "quality")
    // transitive chain 0-1, 1-2 plus pair 4-5
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
    val kept = DedupOps.keepBestInClusters(corpus, pairs, col("doc_id"),
      col("quality")).select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 5L))
  }

  test("dsirWeights ranks target-like documents above off-target ones") {
    // target distribution = science-ish tokens; raw corpus mixes both
    val target = Seq((100L, "atoms energy quantum field theory"),
      (101L, "energy quantum particles field measure")).toDF("doc_id", "text")
    val raw = Seq(
      (0L, "quantum energy field atoms"),        // pure target vocabulary
      (1L, "football goal referee stadium crowd"), // pure off-target
      (2L, "energy atoms football stadium"),       // mixed
    ).toDF("doc_id", "text")
    val w = TextOps.dsirWeights(raw, target, col("text"), col("doc_id"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(w(0L) > w(2L) && w(2L) > w(1L),
      s"expected target-like > mixed > off-target, got $w")
    // selection returns the top-n in weight order
    val sel = TextOps.dsirSelect(raw, target, col("text"), col("doc_id"),
      n = 2).as[(Long, Long, Double)].collect().map(_._1).toSeq
    assert(sel == Seq(0L, 2L))
  }

  test("dsirWeights: doc with no tokens yields no row; n_tokens is exact") {
    val raw = Seq((0L, "a b c"), (1L, ""), (2L, "   ")).toDF("doc_id", "text")
    val target = Seq((9L, "a b")).toDF("doc_id", "text")
    val rows = TextOps.dsirWeights(raw, target, col("text"), col("doc_id"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(rows == Map(0L -> 3L))
  }

  test("embeddingPairsBanded: superset of single-bucket recall, no dup pairs") {
    val rnd = new scala.util.Random(13)
    val base = Array.fill(64)(rnd.nextGaussian())
    val rows = (0L until 40L).map { i =>
      if (i < 4) (i, base.map(_ + rnd.nextGaussian() * 0.05).toSeq) // near-dup clump
      else (i, Array.fill(64)(rnd.nextGaussian()).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val banded = DedupOps.embeddingPairsBanded(df, col("embedding"),
      col("vec_id"), minCosine = 0.8, dims = 64, bands = 4, planesPerBand = 4)
      .as[(Long, Long, Double)].collect()
    CacheScope.release()
    val single = DedupOps.embeddingPairsBucketed(df, col("embedding"),
      col("vec_id"), minCosine = 0.8, dims = 64, planes = 16)
      .as[(Long, Long, Double)].collect()
    // every pair confirmed once, above the floor
    assert(banded.map(p => (p._1, p._2)).distinct.length == banded.length)
    assert(banded.forall(_._3 >= 0.8))
    // 4 bands of 4 bits recall at least what one 16-bit bucket does over
    // the same 16 planes: all-band collision implies any-band collision
    assert(single.map(p => (p._1, p._2)).toSet
      .subsetOf(banded.map(p => (p._1, p._2)).toSet))
    // the planted clump is found
    assert(banded.exists(p => p._1 < 4 && p._2 < 4))
  }

  test("noveltyScore: exact dups score 0, unique docs score 1") {
    val c = Seq(
      (0L, "one two three four five six"),
      (1L, "one two three four five six"), // exact dup: all 5-grams shared
      (2L, "seven eight nine ten eleven twelve"), // fully unique
    ).toDF("doc_id", "text")
    val m = DedupOps.noveltyScore(c, col("text"), col("doc_id"))
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._4)).toMap
    CacheScope.release()
    assert(m(0L)._2 == 0.0 && m(1L)._2 == 0.0)
    assert(m(2L)._2 == 1.0)
    assert(m(0L)._1 == 2L) // 6 tokens -> two distinct 5-grams
  }

  test("iqrOutlierGate flags exactly the planted extremes") {
    // 100 well-behaved lengths around 100, two planted extremes
    val rows = (0L until 100L).map(i => (i, 90L + i % 21)) ++
      Seq((100L, 5000L), (101L, 1L))
    val df = rows.toDF("doc_id", "len")
    val out = TextOps.iqrOutlierGate(df, col("len"), col("doc_id"))
      .where(col("is_outlier")).select("doc_id").as[Long].collect().toSet
    assert(out == Set(100L, 101L))
  }

  test("tfCosineConfirm: repetition variants score 1.0, disjoint pairs drop") {
    val c = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha alpha beta beta gamma gamma delta delta"), // 2x counts: cos = 1
      (2L, "alpha beta gamma epsilon"),                      // 3/4 shared
      (3L, "zeta eta theta iota"),                           // disjoint
    ).toDF("doc_id", "text")
    val cand = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("doc_a", "doc_b")
    val pairs = DedupOps.tfCosineConfirm(c, col("text"), col("doc_id"),
      cand, minCosine = 0.0)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    CacheScope.release()
    assert(math.abs(pairs((0L, 1L)) - 1.0) < 1e-9,
      s"uniform 2x repetition must cosine to 1.0, got ${pairs.get((0L, 1L))}")
    assert(pairs((0L, 2L)) > 0.7 && pairs((0L, 2L)) < 0.8)
    // zero shared buckets: the candidate yields no dot-product row at all
    assert(!pairs.contains((0L, 3L)))
  }

  test("clusterSplit: near-dup cluster members never straddle splits") {
    val corpus = (0L until 300L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
    // chains {0,1,2} and {10,11}; the rest isolated
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val s = SplitOps.clusterSplit(corpus, pairs, col("doc_id"), seed = 9L,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s.size == 300)
    assert(Set(s(0L), s(1L), s(2L)).size == 1, "cluster {0,1,2} split apart")
    assert(s(10L) == s(11L), "cluster {10,11} split apart")
    // isolated docs hash on their own id == plain withSplit assignment
    val plain = SplitOps.withSplit(corpus, col("doc_id"), seed = 9L,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    (20L until 300L).foreach(i => assert(s(i) == plain(i)))
  }

  test("tokenMixtureSample: kept token mass tracks the budget shares") {
    // hash-scatter the synthetic docs (see systematic-resampling lesson):
    // ids drive the keep hash, so sequential ids with periodic classes are
    // fine; token counts differ per class to decouple docs from tokens
    val rows = (0L until 3000L).map { i =>
      val (cls, words) =
        if (i < 1000) ("a", 20) else if (i < 2000) ("b", 10) else ("c", 5)
      (i, cls, Seq.fill(words)("w").mkString(" "))
    }
    val df = rows.toDF("doc_id", "cls", "text")
    // budget: 10k tokens, a:b = 3:1, c unlisted -> dropped.
    // tokens: a = 20k, b = 10k -> f_a = 7500/20000, f_b = 2500/10000
    val kept = SplitOps.tokenMixtureSample(df, col("cls"), col("doc_id"),
      size(TextOps.tokens(col("text"))), seed = 5L,
      weights = Map("a" -> 3.0, "b" -> 1.0), totalTokens = 10000L)
      .groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(!kept.contains("c"))
    val tokA = kept("a") * 20.0
    val tokB = kept("b") * 10.0
    assert(math.abs(tokA - 7500.0) / 7500.0 < 0.15, s"a tokens $tokA")
    assert(math.abs(tokB - 2500.0) / 2500.0 < 0.15, s"b tokens $tokB")
    // a class under budget is kept whole (fraction caps at 1.0)
    val whole = SplitOps.tokenMixtureSample(df, col("cls"), col("doc_id"),
      size(TextOps.tokens(col("text"))), seed = 5L,
      weights = Map("b" -> 1.0), totalTokens = 50000L)
      .count()
    assert(whole == 1000L)
  }

  test("upsampleMixture: repeat factor fills the budget, copies indexed") {
    val rows = (0L until 1000L).map { i =>
      val cls = if (i < 500) "a" else "b"
      (i, cls, Seq.fill(10)("w").mkString(" "))
    }
    val df = rows.toDF("doc_id", "cls", "text")
    // tokens: a = 5000, b = 5000.  budget 30k at 5:1 ->
    // r_a = 25000/5000 = 5.0 exactly, r_b = 5000/5000 = 1.0 exactly
    val up = SplitOps.upsampleMixture(df, col("cls"), col("doc_id"),
      size(TextOps.tokens(col("text"))), seed = 3L,
      weights = Map("a" -> 5.0, "b" -> 1.0), totalTokens = 30000L)
    val byCls = up.groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(byCls == Map("a" -> 2500L, "b" -> 500L)) // exact integer factors
    // copies are 0-based and dense per doc
    val copies = up.where(col("doc_id") === 0L).select("copy")
      .as[Long].collect().sorted.toSeq
    assert(copies == Seq(0L, 1L, 2L, 3L, 4L))
    // fractional factor: budget 7500 for a alone -> r_a = 1.5: every doc
    // kept once, ~half kept twice (deterministic per doc)
    val frac = SplitOps.upsampleMixture(df.where(col("cls") === "a"),
      col("cls"), col("doc_id"), size(TextOps.tokens(col("text"))),
      seed = 3L, weights = Map("a" -> 1.0), totalTokens = 7500L)
      .groupBy("doc_id").count().as[(Long, Long)].collect()
    assert(frac.length == 500 && frac.forall(r => r._2 == 1L || r._2 == 2L))
    val doubled = frac.count(_._2 == 2L)
    assert(doubled > 150 && doubled < 350, s"~250 expected, got $doubled")
  }

  test("sqEncode: codes in [0,255], reconstruction within half a step") {
    val rnd = new scala.util.Random(11)
    val data = (0L until 20L).map(i => (i, Seq.fill(8)(rnd.nextDouble() * 4 - 2)))
    val df = data.toDF("vec_id", "embedding")
    val b = SimilarityOps.sqBounds(df, col("embedding"), 8)
    val codes = SimilarityOps.sqEncode(df, col("embedding"), col("vec_id"), b)
      .as[(Long, Long, Long)].collect()
    assert(codes.forall { case (_, _, c) => c >= 0 && c <= 255 })
    val bounds = b.as[(Int, Double, Double)].collect()
      .map(r => r._1.toLong -> (r._2, r._3)).toMap
    codes.foreach { case (id, j, c) =>
      val (mn, mx) = bounds(j)
      val recon = mn + c.toDouble * (mx - mn) / 255.0
      val orig = data(id.toInt)._2(j.toInt)
      assert(math.abs(recon - orig) <= (mx - mn) / 255.0 / 2 + 1e-12,
        s"vec $id dim $j: recon $recon vs $orig")
    }
  }

  test("persisted DSIR model: append reproduces batch; param mismatch fails") {
    val dir = java.nio.file.Files.createTempDirectory("dsir_t").toString + "/m"
    val target = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val raw1 = Seq((0L, "alpha beta"), (1L, "delta epsilon")).toDF("doc_id", "text")
    val raw2 = Seq((2L, "alpha gamma"), (3L, "zeta eta")).toDF("doc_id", "text")
    TextOps.dsirModelWrite(target, raw1, col("text"), dir)
    TextOps.dsirModelAppend(raw2, col("text"), dir)
    val inc = TextOps.dsirWeightsAgainst(dir, raw2, col("text"), col("doc_id"))
      .as[(Long, Long, Double)].collect().toSet
    val batch = TextOps.dsirWeights(raw1.unionByName(raw2), target,
      col("text"), col("doc_id"))
      .where(col("doc_id") >= 2).as[(Long, Long, Double)].collect().toSet
    assert(inc == batch)
    // wrong bucket count must fail loudly, not read mis-hashed keys
    intercept[IllegalArgumentException] {
      TextOps.dsirWeightsAgainst(dir, raw2, col("text"), col("doc_id"),
        buckets = 8192)
    }
    // scoring un-appended text with unseen buckets still yields full
    // token counts (full-domain lr spine — no silent token drop)
    val unseen = Seq((9L, "totallynovel tokens here")).toDF("doc_id", "text")
    val u = TextOps.dsirWeightsAgainst(dir, unseen, col("text"), col("doc_id"))
      .as[(Long, Long, Double)].collect()
    assert(u.length == 1 && u(0)._2 == 3L)
  }

  test("stateless DSIR scoring equals the join form; stream equals batch") {
    val base = java.nio.file.Files.createTempDirectory("dsir_s").toString
    val modelDir = base + "/model"
    val target = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val raw = Seq((0L, "alpha beta"), (1L, "delta epsilon"),
      (2L, "alpha gamma zeta"), (3L, "")).toDF("doc_id", "text")
    TextOps.dsirModelWrite(target, raw, col("text"), modelDir)
    val joinForm = TextOps.dsirWeightsAgainst(modelDir, raw, col("text"),
      col("doc_id")).as[(Long, Long, Double)].collect().toSet
    val lr = TextOps.dsirLogRatioMap(spark, modelDir)
    val stateless = TextOps.dsirScoreStateless(raw, col("text"),
      col("doc_id"), lr).as[(Long, Long, Double)].collect().toSet
    assert(stateless == joinForm) // bit-identical, incl. the empty-doc drop
    // stream over a parquet landing dir == the batch stateless form
    val landDir = base + "/land"
    raw.coalesce(1).write.mode("append").parquet(landDir)
    val q = StreamingOps.dsirScoreStream(spark, landDir, raw.schema, modelDir)
      .writeStream.format("memory").queryName("graft_dsir_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    val streamed = spark.table("graft_dsir_stream")
      .as[(Long, Long, Double)].collect().toSet
    q.stop()
    assert(streamed == stateless)
  }

  test("bigramLmScore: reference-like transitions outrank unseen ones") {
    val ref = Seq((100L, "the cat sat on the mat"),
      (101L, "the cat ran on the mat")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "the cat sat on the mat"), // transitions all seen in ref
      (1L, "mat the on sat cat the"), // same unigrams, unseen transitions
      (2L, "x"),                      // < 2 tokens: no row
    ).toDF("doc_id", "text")
    val m = TextOps.bigramLmScore(corpus, col("text"), col("doc_id"),
      ref, col("text")).as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(!m.contains(2L))
    assert(m(0L)._1 == 5L && m(1L)._1 == 5L)
    assert(m(0L)._2 > m(1L)._2,
      s"fluent doc must outrank scrambled doc: $m")
  }

  test("rpProject: deterministic, correct arity, distance-correlated") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian())
    val near = base.map(_ + rnd.nextGaussian() * 0.01)
    val far = Array.fill(64)(rnd.nextGaussian())
    val df = Seq((0L, base.toSeq), (1L, near.toSeq), (2L, far.toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val rp = SimilarityOps.rpProjected(df, col("embedding"), col("vec_id"),
      dims = 64, outDims = 16)
    val m = rp.as[(Long, Seq[Double])].collect().toMap
    assert(m.values.forall(_.length == 16))
    // same input twice → identical projection (plan-time constant signs)
    val m2 = SimilarityOps.rpProjected(df, col("embedding"), col("vec_id"),
      dims = 64, outDims = 16).as[(Long, Seq[Double])].collect().toMap
    assert(m == m2)
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // JL with ±1/√k signs: the planted near-dup stays far closer than the
    // independent vector after projection
    assert(d2(m(0L), m(1L)) < d2(m(0L), m(2L)) / 4)
  }

  test("softDedupWeights: cluster mass sums to 1, singletons weigh 1.0") {
    val pairs = Seq((0L, 3L)).toDF("doc_a", "doc_b")
    val w = DedupOps.softDedupWeights(docs, col("doc_id"), pairs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(w.keySet == Set(0L, 1L, 2L, 3L)) // one row per input doc
    assert(w(0L) == (2L, 0.5) && w(3L) == (2L, 0.5)) // cluster of 2
    assert(w(1L) == (1L, 1.0) && w(2L) == (1L, 1.0)) // untouched docs
    // the defining invariant: every duplicate cluster carries total mass 1
    assert(w(0L)._2 + w(3L)._2 == 1.0)
  }

  test("minhashEvalReport matches direct kernel counts; dup pair is recalled") {
    val rep = DedupOps.minhashEvalReport(docs, col("text"), col("doc_id"))
      .as[(Long, Long, Long, Double, Double)].collect().head
    val (nTruth, nCand, nHits, recall, precision) = rep
    val truth = DedupOps.ngramJaccardPairs(docs, col("text"), col("doc_id"),
      3, 100, 0.5).select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cand = DedupOps.minhashCandidates(docs, col("text"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(nTruth == truth.size && nCand == cand.size)
    assert(nHits == truth.intersect(cand).size)
    // the identical pair (0,3) collides on every band: it must be recalled
    assert(truth.contains((0L, 3L)) && cand.contains((0L, 3L)))
    assert(recall == math.rint(nHits.toDouble / nTruth * 1e6) / 1e6)
    assert(precision == math.rint(nHits.toDouble / nCand * 1e6) / 1e6)
  }

  test("lshTuneGrid: every factorization present, closed-form S-curve exact") {
    val g = DedupOps.lshTuneGrid(spark, Seq(16), target = 0.5)
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect()
    // divisors of 16 → 5 (bands, rows) factorizations
    assert(g.map(r => (r._2, r._3)).toSet ==
      Set((1L, 16L), (2L, 8L), (4L, 4L), (8L, 2L), (16L, 1L)))
    val r44 = g.find(r => r._2 == 4L && r._3 == 4L).get
    assert(r44._4 == 0.707107) // threshold (1/4)^(1/4) = 1/√2
    assert(r44._6 == 0.227524) // 1 − (1 − 0.5⁴)⁴
    // monotone: more bands (shorter rows) at fixed n ⇒ lower threshold
    val byBands = g.sortBy(_._2).map(_._4).toSeq
    assert(byBands == byBands.sorted.reverse)
  }

  test("boilerplateRemove cuts >maxDocs segments everywhere, keeps the rest") {
    val bp = Seq(
      (0L, "cookie policy\n\nunique zero"),
      (1L, "cookie policy\n\nunique one"),
      (2L, "cookie policy\n\nunique two"),
      (3L, "cookie policy"),            // fully boilerplate
      (4L, "shared twice\n\nunique four"),
      (5L, "shared twice\n\nunique five"), // df=2 == maxDocs: kept
    ).toDF("doc_id", "text")
    val out = DedupOps.boilerplateRemove(bp, col("text"), col("doc_id"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // the C4 line rule: first occurrence removed too (vs paragraph dedup)
    assert(out(0L) == ("unique zero", 1L) && out(1L) == ("unique one", 1L))
    assert(out(3L) == ("", 1L)) // fully-boilerplate doc survives as a row
    // at-threshold segments untouched
    assert(out(4L) == ("shared twice\nunique four", 0L))
    assert(out(5L) == ("shared twice\nunique five", 0L))
  }

  test("sboScore: trigram, backoff-bigram, and unigram tiers score exactly") {
    val ref = Seq((0L, "a b c")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "a b c"), // seen trigram: c123/c12 = 1 → lp = 0
      (1L, "x b c"), // backoff: 0.4·c23(b,c)/c2(b) = 0.4
      (2L, "x y z"), // unseen unigram: 0.16·(0+1)/(n+v) = 0.16/6
    ).toDF("doc_id", "text")
    val s = TextOps.sboScore(corpus, col("text"), col("doc_id"),
      ref, col("text"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(s.values.forall(_._1 == 1L)) // one trigram per doc
    assert(s(0L)._2 == 0.0)
    assert(math.abs(s(1L)._2 - math.log(0.4)) < 1e-6)
    assert(math.abs(s(2L)._2 - math.log(0.16 / 6)) < 1e-6)
    // tier ordering: direct hit > backoff > out-of-vocabulary
    assert(s(0L)._2 > s(1L)._2 && s(1L)._2 > s(2L)._2)
  }

  test("interleaveBySource: dense positions, per-class order, weighted share") {
    val rows = (0L until 30L).map(i => (i, "A")) ++
      (100L until 115L).map(i => (i, "B"))
    val df = rows.toDF("doc_id", "src")
    val out = SplitOps.interleaveBySource(df, col("src"), col("doc_id"),
      Map("A" -> 2L, "B" -> 1L))
      .select("pos", "doc_id", "cls").as[(Long, Long, String)]
      .collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == (0L until 45L)) // dense global positions
    // within each class the original key order is preserved
    def ids(c: String) = out.filter(_._3 == c).map(_._2).toSeq
    assert(ids("A") == ids("A").sorted && ids("B") == ids("B").sorted)
    // every prefix holds the 2:1 share to within one item per class
    (1 to 45).foreach { n =>
      val a = out.take(n).count(_._3 == "A")
      assert(math.abs(a - n * 2.0 / 3) <= 2, s"prefix $n: a=$a")
    }
  }

  test("ivfPqTopK equals pqTopK when one probed cell covers the corpus") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val base = Seq(
      (0L, v(1, 0, 0, 0, 0, 1, 0, 0)),
      (1L, v(0, 0, 1, 0, 0, 0, 0, 1)),
      (2L, v(1, 0.1, 0, 0, 0, 1, 0.1, 0)),
      (3L, v(0, 0.1, 1, 0, 0.1, 0, 0, 1)),
    ).toDF("vec_id", "embedding")
    val cb = base.where(col("vec_id") < 2)
      .select(col("vec_id").as("code_id"), col("embedding").as("e"))
      .select(explode(sequence(lit(0), lit(1))).as("sub"), col("code_id"),
        col("e"))
      .select(col("sub"), col("code_id"),
        slice(col("e"), col("sub") * 4 + 1, lit(4)).as("cv"))
    val codes = SimilarityOps.pqEncode(base, col("embedding"), col("vec_id"),
      cb, m = 2, subDim = 4).select("vec_id", "sub", "code")
    val oneCell = base.select(col("vec_id"), lit(0L).as("centroid_id"))
    val cents = base.where(col("vec_id") === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cv0"))
    val q = base.where(col("vec_id") === 0)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    val composed = rows(SimilarityOps.ivfPqTopK(codes, oneCell, cb,
      cents, col("cv0"), col("cid"),
      q, col("embedding"), col("vec_id"), k = 3, m = 2, subDim = 4))
    val flat = rows(SimilarityOps.pqTopK(codes, cb,
      q, col("embedding"), col("vec_id"), k = 3, m = 2, subDim = 4))
    assert(composed.nonEmpty && composed == flat)
  }

  test("persisted IVF-PQ index reproduces ivfPqTopK; partition pruning holds") {
    val r = new scala.util.Random(11)
    val df = (0L until 60L).map(i =>
      (i, Array.fill(8)(r.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val cents = df.where(col("vec_id") < 4)
    val cb = df.where(col("vec_id") < 2)
      .select(col("vec_id").as("code_id"), col("embedding").as("e"))
      .select(explode(sequence(lit(0), lit(1))).as("sub"), col("code_id"),
        col("e"))
      .select(col("sub"), col("code_id"),
        slice(col("e"), col("sub") * 4 + 1, lit(4)).as("cv"))
    val queries = df.where(col("vec_id") >= 50)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    SimilarityOps.ivfPqIndexWrite(df, col("embedding"), col("vec_id"),
      cents, col("embedding"), col("vec_id"), cb, m = 2, subDim = 4, idx)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    val viaIndex = rows(SimilarityOps.ivfPqSearchIndex(spark, idx,
      queries, col("embedding"), col("vec_id"), k = 5, subDim = 4, nprobe = 2))
    val codes = SimilarityOps.pqEncode(df, col("embedding"), col("vec_id"),
      cb, m = 2, subDim = 4).select("vec_id", "sub", "code")
    val cells = SimilarityOps.ivfAssign(df, col("embedding"), col("vec_id"),
      cents, col("embedding"), col("vec_id"))
      .select("vec_id", "centroid_id")
    val direct = rows(SimilarityOps.ivfPqTopK(codes, cells, cb,
      cents, col("embedding"), col("vec_id"),
      queries, col("embedding"), col("vec_id"),
      k = 5, m = 2, subDim = 4, nprobe = 2))
    assert(viaIndex.nonEmpty && viaIndex == direct)
    // the cell id is a real partition column of the code index
    val plan = spark.read.parquet(idx).where(col("centroid_id") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"))
  }

  test("knnJoinIvf with all cells probed equals bruteTopK on both sides") {
    val r = new scala.util.Random(13)
    val df = (0L until 40L).map(i =>
      (i, Array.fill(8)(r.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val cents = df.where(col("vec_id") < 4)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "neighbor_id", "cos")
        .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    // nprobe = |cells|: every query probes every cell → exact search
    val joined = rows(SimilarityOps.knnJoinIvf(df, col("embedding"),
      col("vec_id"), df, col("embedding"), col("vec_id"),
      cents, col("embedding"), col("vec_id"), k = 3, nprobe = 4))
    val brute = rows(SimilarityOps.bruteTopK(df, col("embedding"),
      col("vec_id"), df, col("embedding"), col("vec_id"), k = 3))
    assert(joined.nonEmpty && joined == brute)
    // nprobe = 1 returns ≤ k per query, ranks dense from 0, no self-pairs
    val n1 = SimilarityOps.knnJoinIvf(df, col("embedding"), col("vec_id"),
      df, col("embedding"), col("vec_id"),
      cents, col("embedding"), col("vec_id"), k = 3, nprobe = 1)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect()
    assert(n1.forall { case (q, n, _) => q != n })
    n1.groupBy(_._1).values.foreach { g =>
      assert(g.length <= 3 &&
        g.map(_._3).sorted.toSeq == (0L until g.length.toLong))
    }
  }

  test("centroidOutliers flags the planted off-cluster vector only") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val df = Seq(
      (0L, 0L, v(1, 0, 0, 0)), (1L, 0L, v(0.9, 0.1, 0, 0)),
      (2L, 0L, v(-1, 0, 0, 0)), // planted: opposes its label-0 cluster
      (3L, 1L, v(0, 0, 1, 0)), (4L, 1L, v(0, 0, 0.9, 0.1)),
    ).toDF("vec_id", "label", "embedding")
    val out = EmbedOps.centroidOutliers(df, col("embedding"), col("label"),
      col("vec_id"), minCosine = 0.0)
      .select("vec_id", "ccos", "is_outlier")
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 5)
    assert(out(2L)._3 && out(2L)._2 < 0.0)
    assert(Seq(0L, 1L, 3L, 4L).forall(i => !out(i)._3 && out(i)._2 > 0.0))
  }

  test("crossSourceDupMatrix: canonical source pairs, exact counts") {
    val meta = Seq((0L, "cc"), (1L, "wiki"), (2L, "cc"), (3L, "books"))
      .toDF("doc_id", "source")
    val pairs = Seq((0L, 1L), (1L, 2L), (0L, 2L), (0L, 3L))
      .toDF("doc_a", "doc_b")
    val m = DedupOps.crossSourceDupMatrix(pairs, meta, col("doc_id"),
      col("source"))
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // (0,1)=cc·wiki and (1,2)=wiki·cc canonicalize to the same cell
    assert(m == Map(("cc", "wiki") -> 2L, ("cc", "cc") -> 1L,
      ("books", "cc") -> 1L))
  }

  test("oovRate: vocabulary cut by (count desc, token asc); exact rates") {
    // ref counts: common×3, rare×1, tie×1 — vocabSize=2 keeps
    // {common, rare} (tie 'zeta' loses the count-then-token order)
    val ref = Seq((0L, "common common common rare tie")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "common rare"),        // all in vocab → 0.0
      (1L, "common tie unseen"),  // 2 of 3 OOV
      (2L, ""),                   // no tokens → no row
    ).toDF("doc_id", "text")
    val out = TextOps.oovRate(corpus, col("text"), col("doc_id"),
      ref, col("text"), vocabSize = 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.keySet == Set(0L, 1L))
    assert(out(0L) == (2L, 0.0))
    assert(out(1L) == (3L, 0.666667))
  }

  test("pmiTop: hand-computed PMI, minCount guard, bounded output") {
    // corpus: "a b" ×3, "c d" ×1 in one doc each; unigrams a:3 b:3 c:1 d:1
    val df = Seq((0L, "a b"), (1L, "a b"), (2L, "a b"), (3L, "c d"))
      .toDF("doc_id", "text")
    val out = TextOps.pmiTop(df, col("text"), k = 10, minCount = 2L)
      .as[(String, String, Long, Double)].collect()
    // only (a,b) survives minCount; PMI = ln(3·8²/(4·3·3)) = ln(16/3)
    assert(out.toSeq == Seq(("a", "b", 3L,
      math.rint(math.log(3.0 * 64 / (4 * 9)) * 1e6) / 1e6)))
  }

  test("exactSplit: exact counts, deterministic membership, dense cover") {
    val df = (0L until 100L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    def splits() = SplitOps.exactSplit(df, col("doc_id"), seed = 7L,
      counts = Seq("test" -> 10L, "val" -> 5L))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val s1 = splits()
    assert(s1.size == 100)
    assert(s1.values.count(_ == "test") == 10)
    assert(s1.values.count(_ == "val") == 5)
    assert(s1.values.count(_ == "train") == 85)
    assert(splits() == s1) // reproducible member sets, not just sizes
  }

  test("exportShards: shards in range, dense per-shard positions, deterministic") {
    val df = (0L until 200L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    def run() = SplitOps.exportShards(df, col("doc_id"), seed = 5L, nShards = 8)
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect()
    val out = run()
    assert(out.length == 200)
    assert(out.forall { case (_, s, _) => s >= 0 && s < 8 })
    // every shard's positions are exactly 0..size-1 (a writable sort key)
    out.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == (0L until g.length.toLong))
    }
    assert(run().toSet == out.toSet) // reproducible layout
    // hash order, not input order: some shard must not be id-sorted
    assert(out.groupBy(_._2).values.exists { g =>
      val byPos = g.sortBy(_._3).map(_._1).toSeq
      byPos != byPos.sorted
    })
  }

  test("recencyWeights: newest event weighs 1.0, mass matches hand-computed decay") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, t("2026-01-08 00:00:00"), 7L),  // newest: age 0 → weight 1.0
      (2L, t("2026-01-01 00:00:00"), 7L),  // age = one half-life → 0.5
      (3L, t("2026-01-01 00:00:00"), 9L),
    ).toDF("event_id", "ts", "user_id")
    val out = StreamingOps.recencyWeights(ev, halfLifeDays = 7.0)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(7L) == (2L, 1.5))
    assert(out(9L) == (1L, 0.5))
  }

  test("oovRateStateless equals the batch join form; stream equals batch") {
    val ref = Seq((0L, "alpha beta alpha gamma")).toDF("doc_id", "text")
    val corpus = Seq((0L, "alpha beta"), (1L, "alpha delta unseen"),
      (2L, "gamma gamma")).toDF("doc_id", "text")
    val vocab = TextOps.vocabTop(ref, col("text"), 2)
    assert(vocab == Seq("alpha", "beta")) // count desc, token asc tie
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Double)].collect().toSet
    val stateless = rows(TextOps.oovRateStateless(corpus, col("text"),
      col("doc_id"), vocab))
    val joined = rows(TextOps.oovRate(corpus, col("text"), col("doc_id"),
      ref, col("text"), vocabSize = 2))
    assert(stateless == joined && stateless.size == 3)
    // stream form: same kernel over a file stream = same rows
    val dir = java.nio.file.Files.createTempDirectory("graft-oov").toFile
    try {
      corpus.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.oovScoreStream(spark, dir.getAbsolutePath,
          corpus.schema, vocab)
        .writeStream.format("memory").queryName("graft_oov_test")
        .outputMode("append").start()
      q.processAllAvailable()
      val streamed = rows(spark.table("graft_oov_test"))
      q.stop()
      assert(streamed == stateless)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("knnJoinIvfIndex reproduces knnJoinIvf from the persisted layout") {
    val r = new scala.util.Random(17)
    val df = (0L until 50L).map(i =>
      (i, Array.fill(8)(r.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val cents = df.where(col("vec_id") < 4)
    val idx = java.nio.file.Files.createTempDirectory("graft_knnidx").toString
    SimilarityOps.ivfIndexWrite(df, col("embedding"), col("vec_id"),
      cents, col("embedding"), col("vec_id"), idx)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Double, Long)].collect().sortBy(p => (p._1, p._4)).toSeq
    val viaIndex = rows(SimilarityOps.knnJoinIvfIndex(spark, idx,
      df, col("embedding"), col("vec_id"), k = 3, nprobe = 2))
    val direct = rows(SimilarityOps.knnJoinIvf(df, col("embedding"),
      col("vec_id"), df, col("embedding"), col("vec_id"),
      cents, col("embedding"), col("vec_id"), k = 3, nprobe = 2))
    assert(viaIndex.nonEmpty && viaIndex == direct)
  }

  test("aHashBandedPairs equals brute-force Hamming ≤ 3; bound enforced") {
    val r = new scala.util.Random(5)
    val feats = (0L until 40L).map(i =>
      (i, Array.fill(16)(r.nextFloat()))).toDF("doc_id", "features")
    val hashes = feats
      .select(col("doc_id"), MultimodalOps.aHash(col("features")).as("h"))
      .as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- hashes.keys; b <- hashes.keys if a < b
      ham = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
      if ham <= 3
    } yield (a, b, ham.toLong)).toSet
    val banded = MultimodalOps.aHashBandedPairs(feats, col("doc_id"),
      bits = 16, bands = 4, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    // pigeonhole: 4-band blocking is lossless at Hamming ≤ 3
    assert(banded == brute && brute.nonEmpty)
    // a tolerance past bands−1 would silently lose recall: rejected
    intercept[IllegalArgumentException] {
      MultimodalOps.aHashBandedPairs(feats, col("doc_id"),
        bits = 16, bands = 4, maxHamming = 4)
    }
  }
}
