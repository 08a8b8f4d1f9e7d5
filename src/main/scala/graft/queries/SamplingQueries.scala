package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.functions.SparseToDense
import graft.ops._

/** The loader's own queries: sampling strategies over lineitem as an
  * indexable collection (contiguous `row_id`), weighted and class-balanced
  * draws, fetch/batch windows, the end-to-end `pipeline_*` compositions,
  * sequence packing (`pack_*`) and source mixtures (`mix_*`).  Names:
  * `o1`–`o4`, `a2`, `a6`, `b2`, `b3`, `b6`, `u2`, `u5`, `u6`, `u8`, `u9`,
  * `p3`, `p5`, `pipeline`, `pack`, `mix`. */
object SamplingQueries extends QuerySet {

  import Tables.docs
  import DedupQueries.MinhashClusterSql
  import TextQueries.toksSql

  /** lineitem as an indexable collection: contiguous row_id ranked by a
    * TOTAL order — (l_orderkey, l_linenumber) alone is NOT unique in the
    * test data (~20% duplicate pairs), so extra columns break ties; rows
    * identical in every sort column are interchangeable, which keeps the
    * rank deterministic as a multiset across engines. */
  val LiOrder = Seq("l_orderkey", "l_linenumber", "l_extendedprice",
    "l_quantity", "l_discount", "l_tax")

  /** Session-scoped collection handle: ranked once, persisted, reused by
    * every query — the reference's own benchmark methodology (open the
    * collection once, iterate epochs over the same handle; its timed window
    * also excludes dataset open, benchmarks/utils.py:90-92). */
  private val liCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), ScCollection]()

  def li(spark: SparkSession, dir: String): ScCollection =
    liCache.computeIfAbsent((spark, dir), _ =>
      // project to the columns the queries touch (P1, the reference's own
      // obs-pruning): the cached frame is half as wide, and the pruning
      // reaches the parquet scan (ReadSchema)
      ScCollection.fromParquetCached(spark, s"$dir/lineitem.parquet", LiOrder,
        columns = Seq("l_returnflag")))

  /** Shared oracle CTE: the same contiguous rank in DuckDB. */
  private[queries] val RankedCte =
    s"""WITH ranked AS (
      |  SELECT l_orderkey, l_linenumber,
      |         row_number() OVER (ORDER BY ${LiOrder.mkString(", ")}) - 1 AS row_id
      |  FROM lineitem
      |)""".stripMargin

  private val WeightedRankedCte =
    s"""WITH ranked AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag,
      |         row_number() OVER (ORDER BY ${LiOrder.mkString(", ")}) - 1 AS row_id
      |  FROM lineitem
      |)""".stripMargin

  private val Fracs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Domain-mixture parts: src0 gets 5/26 of the sample, src1 3/26, the
    * remaining 18 sources 1/26 each. */
  private val MixParts: Seq[(String, Long)] =
    Seq("src0" -> 5L, "src1" -> 3L) ++ (2 until 20).map(i => s"src$i" -> 1L)

  /** The `pack_plan` oracle, shared with the queries that wrap it. */
  private lazy val PackPlanSql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |         len(${toksSql("text")}) AS n_tokens
      |  FROM documents
      |),
      |c AS (
      |  SELECT *, sum(n_tokens) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t
      |),
      |s AS (SELECT doc_id, n_tokens, cum - n_tokens AS strt FROM c)
      |SELECT doc_id, n_tokens, CAST(strt // 256 AS BIGINT) AS pack_id,
      |       CAST(strt % 256 AS BIGINT) AS pack_offset,
      |       (strt % 256) + n_tokens > 256 AS spans_boundary
      |FROM s""".stripMargin

  /** Interleave mixture used by `o3_interleave` (sources outside the map
    * are excluded from the stream — the mixture IS the selection). */
  private val InterleaveWeights = Map(
    "src0" -> 4L, "src1" -> 2L, "src2" -> 1L, "src3" -> 1L)

  /** Shared-string SQL: the per-language mixture share card (counts +
    * exact char mass — the numerator/denominator of every sampling
    * temperature). */
  private val MixShareSqlShared =
    """SELECT lang,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY lang""".stripMargin

  /** HDR length-bucket CTE: `h(bucket_id, lb, ub, n)` over the
    * documents' n_chars, 4 significant bits per bucket. */
  private val HdrLenCte =
    """h AS (
      |  SELECT (sh::BIGINT * 32 + (v >> sh)) AS bucket_id,
      |    ((v >> sh) << sh)::BIGINT AS lb,
      |    (((v >> sh) << sh) + ((1::BIGINT << sh) - 1))::BIGINT AS ub,
      |    count(*)::BIGINT AS n
      |  FROM (SELECT n_chars::BIGINT AS v,
      |      greatest(0, length(bin(n_chars::BIGINT)) - 1 - 4) AS sh
      |    FROM documents)
      |  GROUP BY 1, 2, 3)""".stripMargin

  private val FlatQuantiles =
    s"""$HdrLenCte,
      |c AS (SELECT bucket_id, lb, ub,
      |    sum(n) OVER (ORDER BY bucket_id) AS cum FROM h),
      |t AS (SELECT sum(n)::BIGINT AS n_total FROM h),
      |q AS (SELECT * FROM (VALUES (1, 20), (19, 20)) AS v(q_num, q_den)),
      |r AS (SELECT q_num, q_den,
      |    (q_num::BIGINT * n_total + q_den - 1) // q_den AS rank
      |  FROM q, t),
      |est AS (
      |  SELECT round(r.q_num::DOUBLE / r.q_den, 6) AS q,
      |    min(c.lb)::BIGINT AS est_lb, min(c.ub)::BIGINT AS est_ub
      |  FROM r JOIN c ON c.cum >= r.rank
      |  GROUP BY 1),
      |bounds AS (
      |  SELECT min(CASE WHEN q = 0.05 THEN est_lb END) AS lo,
      |         max(CASE WHEN q = 0.95 THEN est_ub END) AS hi
      |  FROM est)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // P5: pilot-mode limit (first n by row_id)
    "p5_limit" -> ((s, dir) =>
      li(s, dir).limit(50).df
        .select(col("row_id"), col("l_orderkey"), col("l_linenumber"))),

    // O1 + P3: streaming order over a subset — subset rows re-ranked contiguously
    "o1_streaming" -> ((s, dir) => {
      val sub = li(s, dir).where(col("l_linenumber") <= 3)
      Streaming(rng = Rng.Md5).plan(sub, 5)
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord"))
    }),

    // O2: block shuffle — block order md5-permuted, intra-block order kept
    "o2_block_shuffle" -> ((s, dir) =>
      BlockShuffling(blockSize = 8, rng = Rng.Md5).plan(li(s, dir), 7)
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord"))),

    // O2 dropLast: n % blockSize uniformly-random rows removed first
    "o2_block_droplast" -> ((s, dir) =>
      BlockShuffling(blockSize = 8, dropLast = true, rng = Rng.Md5)
        .plan(li(s, dir), 7)
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord"))),

    // O1-shuffle + B1 + B2 + O6: fetch windows, within-window md5 permutation,
    // batch slicing
    "b2_buffer_shuffle" -> ((s, dir) => {
      val ds = ScDataset(li(s, dir), Streaming(shuffle = true, rng = Rng.Md5),
        batchSize = 16, fetchFactor = 4, seed = 42L)
      ds.planFrame(0)
        .select(col("l_orderkey"), col("l_linenumber"), col("fetch_id"),
          col("__pos").as("pos"), col("batch_id"), col("pos_in_batch"))
    }),

    // Flagship pipeline: BlockShuffling → fetch windows → within-fetch
    // permutation → batch slicing → dropLast trim (S1+O2+O5+O6+B1+B2+P6)
    "pipeline_block" -> ((s, dir) => {
      val ds = ScDataset(li(s, dir), BlockShuffling(blockSize = 32, rng = Rng.Md5),
        batchSize = 16, fetchFactor = 8, dropLast = true, seed = 42L)
      ds.planFrame(0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord"), col("fetch_id"),
          col("__pos").as("pos"), col("batch_id"), col("pos_in_batch"))
    }),

    // B3 + B4: exact per-rank batch counts under round-robin fetch
    // distribution (driver-side closed form; oracle recomputes from count(*))
    "b3_batch_counts" -> ((s, dir) => {
      val ds = ScDataset(li(s, dir), Streaming(rng = Rng.Md5),
        batchSize = 64, fetchFactor = 4)
      val rows = (0 until 3).map(r => (r.toLong, ds.batchCount(r, 3))) :+
        (-1L, ds.batchCount)
      s.createDataFrame(rows).toDF("rank", "batches")
    }),

    // U8: dictionary label encoding (string -> dense id by sorted order)
    "u8_label_encode" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // the label dictionary is the distinct label set — driver-sized by
      // definition for a CLASS label; ids are assigned on the collected
      // sorted values (a partition-less window here would log WindowExec's
      // single-partition warning on every run — Spark strips constant
      // partition keys).  The collect is BOUNDED: orderBy+limit compiles to
      // TakeOrdered, so at most maxLabels+1 rows ever reach the driver, and
      // an unexpectedly high-cardinality label column fails loudly instead
      // of silently OOMing the driver (use the two-phase Ranker for id
      // assignment if the cardinality is genuinely unbounded).
      import s.implicits._
      val maxLabels = 1000000
      val collected = docs.select("lang").distinct().orderBy("lang")
        .limit(maxLabels + 1).collect()
      require(collected.length <= maxLabels,
        s"label cardinality exceeds $maxLabels — not a class label; " +
          "assign ids with a distributed rank instead")
      val dict = s.createDataset(
        collected.map(_.getString(0)).zipWithIndex.map { case (l, i) => (l, i) }
          .toSeq).toDF("lang", "label_id")
      docs.join(broadcast(dict), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("label_id").cast("long"))
    }),

    // O3 with replacement: systematic resampling over normalized-integerized
    // weights; output cardinality (120k) exceeds input (~60k) — duplicates
    // carry a copy index.
    "o3_weighted_replace" -> ((s, dir) =>
      {
      val c = li(s, dir)
      BlockWeightedSampling(col("l_linenumber"), totalSize = 2 * c.length,
        blockSize = 8, rng = Rng.Md5)
        .plan(c, 11)
      }
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Copy).cast("long").as("copy"),
          col(SamplingStrategy.Ord).as("ord"))),

    // O3 without replacement: A-Res weighted reservoir (key = ln(u)/w, top-n)
    "o3_weighted_noreplace" -> ((s, dir) =>
      {
      val c = li(s, dir)
      BlockWeightedSampling(col("l_linenumber"), totalSize = c.length / 3,
        blockSize = 8, replace = false, rng = Rng.Md5)
        .plan(c, 11)
      }
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord"))),

    // O3 without replacement in samplingSize ROUNDS (the reference's
    // sampling_size semantics): two rounds (n/3, then n/2 - n/3), unique
    // within a round, repeats across rounds carry a copy index
    "o3_weighted_rounds" -> ((s, dir) =>
      {
      val c = li(s, dir)
      BlockWeightedSampling(col("l_linenumber"), totalSize = c.length / 2,
        blockSize = 8, replace = false, samplingSize = Some(c.length / 3),
        rng = Rng.Md5)
        .plan(c, 11)
      }
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Copy).cast("long").as("copy"),
          col(SamplingStrategy.Ord).as("ord"))),

    // O4: inverse-class-frequency balanced sampling over l_returnflag
    "o4_class_balanced" -> ((s, dir) =>
      {
      val c = li(s, dir)
      ClassBalancedSampling(col("l_returnflag"), totalSize = 3 * c.length / 2,
        blockSize = 16, rng = Rng.Md5)
        .plan(c, 13)
      }
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col(SamplingStrategy.Copy).cast("long").as("copy"),
          col(SamplingStrategy.Ord).as("ord"))),

    // U9: smoothed inverse-frequency weights, normalized to sum = n
    // (reference training_experiments/utils/weights.py:97-114).  The k-term
    // normalizer is reduced in source order on the driver — deterministic.
    "u9_balanced_weights" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val counts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      val k = counts.length
      val n = counts.map(_._2).sum
      val raw = counts.map { case (src, c) =>
        (src, c, n.toDouble / (k * (c + 10)).toDouble) }
      val sum = raw.map { case (_, c, w) => c * w }.reduceLeft(_ + _)
      val norm = n.toDouble / sum
      val rows = raw.map { case (src, c, w) =>
        (src, c, BigDecimal(w * norm)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      s.createDataFrame(rows.toSeq).toDF("source", "cnt", "weight")
    }),

    // A2: per-batch Shannon entropy of c_mktsegment under streaming batching
    // (reference benchmarks/utils.py:246-259).  The per-batch float sum is
    // an ORDERED fold over segment-sorted counts (integer totals), so the
    // result is independent of partial-aggregation order — the same
    // hardening that fixed stream_sessions.
    "a2_batch_entropy" -> ((s, dir) => {
      val c = ScCollection.fromParquet(s, s"$dir/customer.parquet",
        Seq("c_custkey"), Seq("c_mktsegment"))
      val b = c.df.withColumn("batch_id", floor(col("row_id") / 100))
      val g = b.groupBy("batch_id", "c_mktsegment").agg(count(lit(1)).as("cnt"))
      g.groupBy("batch_id")
        .agg(sort_array(collect_list(struct(
          col("c_mktsegment").as("seg"), col("cnt")))).as("scnts"))
        .withColumn("tot",
          aggregate(col("scnts"), lit(0L), (a, x) => a + x("cnt")).cast("double"))
        .withColumn("ent", aggregate(col("scnts"), lit(0.0), (a, x) => {
          val p = x("cnt").cast("double") / col("tot")
          a + p * log2(p)
        }))
        .select(col("batch_id"), round(lit(0.0) - col("ent"), 6).as("entropy"))
    }),

    // U6: custom codegen Expression — sparse (index,value) rows → dense,
    // flattened for comparison
    "u6_sparse_to_dense" -> ((s, dir) => {
      val sparse = sparseLines(s.read.parquet(s"$dir/lineitem.parquet"))
      sparse.select(col("l_orderkey"),
          posexplode(SparseToDense.sparseToDense(col("genes"), col("exprs"), 7)))
        .select(col("l_orderkey"), col("pos").cast("long").as("pos"),
          col("col").as("val"))
    }),

    // B6: epoch seed derivation — same base seed, epochs 0/1 give distinct
    // deterministic orders (seed + 1000*epoch)
    "b6_epoch_divergence" -> ((s, dir) => {
      // two epoch plans + a join consume the collection ~4 times: use the
      // prepare-once handle so the rank sort runs once
      val c = ScCollection.fromParquetCached(s, s"$dir/part.parquet",
        Seq("p_partkey"))
      val ds = ScDataset(c, BlockShuffling(blockSize = 8, rng = Rng.Md5),
        batchSize = 64, seed = 42L)
      val e0 = ds.strategy.plan(c, ds.epochSeed(0))
        .select(col("row_id"), col("p_partkey"),
          col(SamplingStrategy.Ord).as("ord_e0"))
      val e1 = ds.strategy.plan(c, ds.epochSeed(1))
        .select(col("row_id"), col(SamplingStrategy.Ord).as("ord_e1"))
      e0.join(e1, "row_id").select("p_partkey", "ord_e0", "ord_e1")
    }),

    // U5: AnnData materialize analogue — densify sparse rows AND project an
    // obs metadata column in one pass (broadcast dimension join)
    "u5_densify_project" -> ((s, dir) => {
      val sparse = sparseLines(s.read.parquet(s"$dir/lineitem.parquet"))
      val obs = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      sparse.join(broadcast(obs), Seq("l_orderkey"))
        .select(col("l_orderkey"), col("o_orderpriority"),
          posexplode(SparseToDense.sparseToDense(col("genes"), col("exprs"), 7)))
        .select(col("l_orderkey"), col("o_orderpriority"),
          col("pos").cast("long").as("pos"), col("col").as("val"))
    }),

    // U2+U3+U4: the full hook pipeline, end-to-end — fetchTransform derives
    // a column on the planned frame, batchAssemble overrides batch
    // extraction with per-batch aggregates, batchTransform finalizes each
    // batch row.  Streaming order keeps the epoch math SQL-expressible.
    "u2_hooks_pipeline" -> ((s, dir) => {
      val c = ScCollection.fromParquet(s, s"$dir/customer.parquet",
        Seq("c_custkey"))
      val hooks = Hooks(
        fetchTransform = df => df.withColumn("acct_cents",
          (col("c_acctbal") * 100).cast("long")),
        // grouped by (fetch_id, batch_id): the plan's fetch_id range
        // partitioning serves the aggregate and the batch order
        batchAssemble = Some((pf, _) =>
          pf.groupBy(col("fetch_id"), col("batch_id"))
            .agg(count(lit(1)).as("n"), sum("acct_cents").as("cents_sum"))),
        batchTransform = bf => bf.withColumn("cents_mean",
          (col("cents_sum") / col("n")).cast("long")))
      ScDataset(c, Streaming(rng = Rng.Md5), batchSize = 128, seed = 42L,
        hooks = hooks)
        .toBatchFrame(0, Nil)
        .select(col("batch_id"), col("n"), col("cents_sum"), col("cents_mean"))
    }),

    // A6: parameter suggestion over a fixed (cores, sampleBytes, batchSize,
    // ram) grid — the pure arithmetic of AutoConfig.suggestFor, which the
    // oracle reproduces in SQL.  The SizeEstimator-based probe (A4/A5,
    // JVM-build-specific, NOT SQL-reproducible) stays exercised by the
    // estimateSampleBytes spec; this query pins the formula itself.
    "a6_autoconfig" -> ((s, dir) => {
      val grid = for {
        cores <- Seq(8, 32, 1000)
        sampleBytes <- Seq(256L, 4096L, 262144L, 1048576L)
        batchSize <- Seq(32, 256)
        ram <- Seq(8L << 30, 64L << 30)
      } yield {
        val sg = AutoConfig.suggestFor(cores, sampleBytes, batchSize, ram)
        (cores.toLong, sampleBytes, batchSize.toLong, ram,
          sg.workers.toLong, sg.fetchFactor.toLong, sg.blockSizeSmall.toLong,
          sg.blockSize.toLong, sg.blockSizeLarge.toLong,
          sg.prefetchFactor.toLong, sg.shufflePartitions.toLong,
          sg.maxPartitionBytes)
      }
      import s.implicits._
      grid.toDF("cores", "sample_bytes", "batch_size", "ram_bytes",
        "workers", "fetch_factor", "block_size_small", "block_size",
        "block_size_large", "prefetch_factor", "shuffle_partitions",
        "max_partition_bytes")
    }),

    // P3 at scale: deterministic hash split — assignment is a pure function
    // of (seed, doc_id), no driver index arrays (the reference builds
    // per-split row-index lists on the driver; loader.py:387-448)
    "p3_hash_split" -> ((s, dir) =>
      SplitOps.withSplit(docs(s, dir), col("doc_id"), seed = 42L, Fracs)
        .select("doc_id", "split")),

    // Domain-mixture resampling: fixed target proportions over sources
    // (src0 5/26, src1 3/26, rest 1/26 each), with replacement
    "o3_domain_mixture" -> ((s, dir) => {
      val c = ScCollection.fromParquet(s, s"$dir/documents.parquet",
        Seq("doc_id"), Seq("source"))
      MixtureSampling(col("source"), MixParts.toMap, totalSize = 2 * c.length,
        blockSize = 8, rng = Rng.Md5).plan(c, 17)
        .select(col("doc_id"), col("source"),
          col(SamplingStrategy.Copy).cast("long").as("copy"),
          col(SamplingStrategy.Ord).as("ord"))
    }),

    // Sequence packing under a 256-token budget (concat-and-chunk plan)
    "pack_plan" -> ((s, dir) =>
      TextOps.packPlan(docs(s, dir), col("text"), col("doc_id"), budget = 256L)),

    // Stratified Bernoulli sample: named per-source keep fractions, the
    // rest at 10% — pure hash predicate, no shuffle
    "p3_stratified" -> ((s, dir) =>
      graft.ops.SplitOps.stratifiedSample(Tables.docs(s, dir),
        col("source"), col("doc_id"), seed = 7L,
        fractions = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        default = 0.1)
        .select("doc_id", "source")),

    // Temperature-rebalanced domain mix (alpha = 0.5): kept counts
    // ∝ n_src^0.5, smallest source kept whole
    "o3_temperature" -> ((s, dir) =>
      graft.ops.SplitOps.temperatureSample(Tables.docs(s, dir),
        col("source"), col("doc_id"), seed = 11L, alpha = 0.5)
        .select("doc_id", "source")),

    // Exact per-domain quota: a deterministic uniform <=8 docs per source
    // (WindowGroupLimit keeps the per-class state at O(k))
    "p3_quota" -> ((s, dir) =>
      graft.ops.SplitOps.quotaSample(Tables.docs(s, dir),
        col("source"), col("doc_id"), seed = 13L, k = 8)
        .select("doc_id", "source")),

    // Leakage-safe split: near-dup clusters share one split assignment
    "p3_cluster_split" -> ((s, dir) =>
      graft.ops.SplitOps.clusterSplit(Tables.docs(s, dir),
        Tables.minhashCands(s, dir),
        col("doc_id"), seed = 42L,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")),

    // Token-budget mixture: src0 gets 3/5 of a 200k-token budget, src1 and
    // src2 1/5 each; every other source is dropped
    "o3_token_mixture" -> ((s, dir) =>
      graft.ops.SplitOps.tokenMixtureSample(Tables.docs(s, dir),
        col("source"), col("doc_id"),
        size(graft.ops.TextOps.tokens(col("text"))), seed = 17L,
        weights = Map("src0" -> 3.0, "src1" -> 1.0, "src2" -> 1.0),
        totalTokens = 200000L)
        .select("doc_id", "source")),

    // Upsampling: src0 and src1 repeated to fill a 2M-token budget at
    // 5:1 — epochs-plus-remainder, deterministic per (seed, doc)
    "o3_upsample" -> ((s, dir) =>
      graft.ops.SplitOps.upsampleMixture(Tables.docs(s, dir),
        col("source"), col("doc_id"),
        size(graft.ops.TextOps.tokens(col("text"))), seed = 19L,
        weights = Map("src0" -> 5.0, "src1" -> 1.0),
        totalTokens = 2000000L)
        .select("doc_id", "source", "copy")),

    // Deterministic weighted interleave of four sources into one ordered
    // training stream (4:2:1:1)
    "o3_interleave" -> ((s, dir) =>
      SplitOps.interleaveBySource(Tables.docs(s, dir), col("source"),
        col("doc_id"), InterleaveWeights)),

    // Exact-count split: test gets exactly 50 docs, val exactly 25, the
    // rest train — deterministic md5 order, range-partitioned rank
    "p3_exact_split" -> ((s, dir) =>
      SplitOps.exactSplit(Tables.docs(s, dir)
          .select(col("doc_id"), col("source")),
        col("doc_id"), seed = 7L,
        counts = Seq("test" -> 50L, "val" -> 25L))),

    // Flagship curation pipeline, end to end in ONE plan: quality gate →
    // exact dedup (first occurrence wins) → hash split → train shards.
    // Every stage is an already-oracled operator; the composition is the
    // production shape — gate prunes before dedup hashes, dedup prunes
    // before the split, only train pays the shard window.
    "pipeline_curate" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val gated = TextOps.filterPipeline(d, col("text"), col("doc_id"),
        minTokens = 20L, maxTokens = 1000L, minQuality = 0.5,
        langs = Seq("en", "de", "es", "fr"))
      val gatedDocs = d.join(gated.select("doc_id"), "doc_id")
      val kept = DedupOps.exactDedup(gatedDocs, col("text"), col("doc_id"))
      val split = SplitOps.withSplit(kept.select("doc_id"), col("doc_id"),
        seed = 42L, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val shards = SplitOps.exportShards(
        split.where(col("split") === "train").select("doc_id"),
        col("doc_id"), seed = 5L, nShards = 4)
      split.join(shards.select(col("doc_id"), col("shard"), col("pos")),
        Seq("doc_id"), "left")
    }),

    // Weighted sampling without replacement, 20 docs per language with
    // inclusion odds tracking n_chars (A-Res u^(1/w) key)
    "p3_weighted_quota" -> ((s, dir) =>
      SplitOps.weightedQuotaSample(
        Tables.docs(s, dir).select("doc_id", "lang", "n_chars"),
        col("lang"), col("doc_id"), col("n_chars"), seed = 7L, k = 20)
        .select("doc_id", "lang", "sample_key")),

    // Poisson(1) bootstrap: each doc replicated c ~ Poisson(1) times from
    // its md5 uniform — the distributed bagging resample, no shuffle
    "o3_bootstrap" -> ((s, dir) =>
      SplitOps.bootstrapSample(Tables.docs(s, dir).select("doc_id"),
        col("doc_id"), seed = 11L)),

    // Split manifest: per-split doc/char totals after the hash split —
    // the dataset-card numbers a release ships with
    "p3_split_manifest" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      SplitOps.withSplit(d.select("doc_id", "n_chars"), col("doc_id"),
          seed = 42L, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    }),

    // Packing efficiency: context-window fill fraction and the
    // boundary-spanning doc count over the 256-token packPlan
    "pack_efficiency" -> ((s, dir) =>
      TextOps.packPlan(Tables.docs(s, dir), col("text"), col("doc_id"),
          budget = 256L)
        .agg((max("pack_id") + 1).as("n_packs"),
          sum("n_tokens").as("total_tokens"),
          round(sum("n_tokens").cast("double") /
            ((max("pack_id") + 1).cast("double") * 256.0), 6)
            .as("fill_frac"),
          sum(when(col("spans_boundary"), 1L).otherwise(0L))
            .as("n_spanning"))),

    // Temperature-scaled language mixture (alpha = 0.5): en dominates
    // the corpus, so its resampling weight drops below 1 while tail
    // languages rise — the multilingual-sampling recipe as one
    // aggregation + broadcast total.
    "mix_temperature" -> ((s, dir) =>
      TextOps.sourceMixtureWeights(Tables.docs(s, dir), col("lang"),
        alpha = 0.5)),

    "mix_share_sql" -> ((s, dir) => {
      Tables.docs(s, dir).createOrReplaceTempView("documents")
      s.sql(MixShareSqlShared)
    }),

    // sketch-driven gate: clip docs outside the [p5 bucket lb, p95
    // bucket ub] length band — the trim-the-tails step, with the bounds
    // COMPUTED by the quantile sketch inside the same plan (broadcast
    // 1-row bounds, no driver round trip)
    "pipeline_length_clip" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val qs = SketchOps.hdrQuantiles(d, col("n_chars"), subBits = 4,
        quantiles = Seq((1, 20), (19, 20)))
      val bounds = qs.agg(
        min(when(col("q") === 0.05, col("est_lb"))).as("lo"),
        max(when(col("q") === 0.95, col("est_ub"))).as("hi"))
      d.crossJoin(broadcast(bounds))
        .where(col("n_chars").between(col("lo"), col("hi")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
    }),

    "pipeline_corpus_card" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val base = d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"))
      val med = SketchOps.hdrQuantiles(d, col("n_chars"), subBits = 4,
          quantiles = Seq((1, 2)))
        .select(col("est_lb").as("p50_len_lb"), col("est_ub").as("p50_len_ub"))
      val dup = d.groupBy(md5(lower(trim(col("text")))).as("h"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") > 1)
        .agg(coalesce(count(lit(1)), lit(0L)).as("dup_groups"),
          coalesce(sum(col("n") - 1), lit(0L)).as("dup_docs"))
      base.crossJoin(broadcast(med)).crossJoin(broadcast(dup))
    }),

    // the SFT data-prep pipeline in one plan: quality gate -> exact dedup
    // keep -> whole-document shelf packing of the survivors
    "pipeline_sft_pack" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val gated = TextOps.filterPipeline(d, col("text"), col("doc_id"),
          minTokens = 20L, maxTokens = 1000L, minQuality = 0.5,
          langs = Seq("en", "de", "es", "fr"))
        .select("doc_id")
      val kept = DedupOps.exactDedup(d, col("text"), col("doc_id"))
        .select("doc_id")
      val survivors = d.join(gated, "doc_id").join(kept, "doc_id")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      TextOps.packBinsShelf(survivors, col("n_tokens"), col("doc_id"), 128L)
    }),

    // The contrastive-curation pipeline in ONE plan: IVF hard negatives →
    // prototype margin (cos to the OWN-label exact centroid minus the
    // hardest negative — the scale-correct margin: one |labels|-sized
    // centroid join instead of all same-label pairs) → curriculum buckets
    // over the margin (largest margin = easiest first).  Every stage is
    // individually oracle-gated; this chains their SQL end to end.
    "pipeline_contrastive" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val hardest = Tables.hardNegIvf32(s, dir)
        .groupBy("query_id").agg(max(col("cos")).as("hneg"))
      val cv = EmbedOps.centroids(e, col("embedding"),
          col("label").cast("long"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(
          struct(col("dim"), col("centroid")))), x => x("centroid"))
          .as("cv"))
      // persisted (lazy): margins feeds curriculumOrder AND the final
      // re-attach join — uncached, the entire margin pipeline (including
      // the IVF hard-negative stage) would run twice
      val margins = graft.core.CacheScope.persist(e
        .select(col("vec_id").as("query_id"), col("embedding"),
          col("label").cast("long").as("label"))
        .join(broadcast(cv), "label")
        .select(col("query_id"),
          round(SimilarityOps.cosine(col("embedding"), col("cv")), 6)
            .as("pcos"))
        .join(hardest, "query_id")
        .select(col("query_id"),
          round(col("pcos") - col("hneg"), 6).as("margin")))
      SplitOps.curriculumOrder(margins, lit(1.0) - col("margin"),
          col("query_id"), nBuckets = 4)
        .join(margins, col("doc_id") === col("query_id"))
        .select(col("query_id"), col("margin"), col("bucket"),
          col("sched_key"))
    })
  )

  /** Systematic-resampling CTE body over weights `w(…, row_id, wi)`: the
    * running weight `c.cum`, the total and the md5 offset (seed `seed`) in
    * `params`, and each row's copy count `cp.copies` out of `draws`. */
  private def systematicCopiesCte(seed: Int, draws: String): String =
    s"""c AS (
       |  SELECT *, sum(wi) OVER (ORDER BY row_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM w
       |),
       |params AS (
       |  SELECT max(cum)::DOUBLE AS tw,
       |         (('0x' || substr(md5('offset:$seed'), 1, 8))::BIGINT / 4294967296.0) AS off
       |  FROM c
       |),
       |cp AS (
       |  SELECT *,
       |    CAST(ceil(cum::DOUBLE / (SELECT tw FROM params) * CAST($draws AS DOUBLE) - (SELECT off FROM params))
       |       - ceil((cum - wi)::DOUBLE / (SELECT tw FROM params) * CAST($draws AS DOUBLE) - (SELECT off FROM params)) AS INT) AS copies
       |  FROM c
       |)""".stripMargin

  /** Copy expansion over `cp(…, row_id, copies)`: `ex`, one row per copy
    * carrying `carried` and `row_id`, and `sr`, each copy's sample rank
    * `srank` in (row_id, copy) order. */
  private def copyRanksCte(carried: String): String =
    s"""ex AS (
       |  SELECT $carried, row_id,
       |         unnest(generate_series(1, copies)) AS copy
       |  FROM cp WHERE copies > 0
       |),
       |sr AS (
       |  SELECT *, row_number() OVER (ORDER BY row_id, copy) - 1 AS srank FROM ex
       |)""".stripMargin

  /** Block-shuffle CTE over the sampled rows `sr(…, srank)`: `k`, each
    * row's md5 key for its block of `block` consecutive ranks (seed
    * `seed`). */
  private def blockKeyCte(seed: Int, block: Int): String =
    s"""k AS (
       |  SELECT *, md5(concat_ws(':', 'wblock', '$seed', (srank // $block)::VARCHAR)) AS bkey
       |  FROM sr
       |)""".stripMargin

  /** Each order's lines of `lineitem` as sparse rows: line numbers
    * (`genes`) and quantities (`exprs`) sorted by line number. */
  private def sparseLines(lineitem: DataFrame): DataFrame =
    lineitem.groupBy("l_orderkey")
      .agg(sort_array(collect_list(
        struct(col("l_linenumber"), col("l_quantity")))).as("sl"))
      .select(col("l_orderkey"),
        transform(col("sl"), x => x("l_linenumber").cast("long")).as("genes"),
        transform(col("sl"), x => x("l_quantity")).as("exprs"))

  def oracles: Map[String, String] = Map(

    "p5_limit" ->
      s"""$RankedCte
         |SELECT row_id, l_orderkey, l_linenumber FROM ranked
         |WHERE row_id < 50""".stripMargin,

    "o1_streaming" ->
      s"""$RankedCte
         |SELECT l_orderkey, l_linenumber,
         |       row_number() OVER (ORDER BY row_id) - 1 AS ord
         |FROM ranked WHERE l_linenumber <= 3""".stripMargin,

    "o2_block_shuffle" ->
      s"""$RankedCte,
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'block', '7', (row_id // 8)::VARCHAR)) AS bkey
         |  FROM ranked
         |)
         |SELECT l_orderkey, l_linenumber,
         |       row_number() OVER (ORDER BY bkey, row_id) - 1 AS ord
         |FROM k""".stripMargin,

    "o2_block_droplast" ->
      s"""$RankedCte,
         |d AS (
         |  SELECT *, md5(concat_ws(':', 'drop', '7', row_id::VARCHAR)) AS dkey
         |  FROM ranked
         |),
         |dr AS (
         |  SELECT *, row_number() OVER (ORDER BY dkey, row_id) - 1 AS drank FROM d
         |),
         |kept AS (
         |  SELECT l_orderkey, l_linenumber, row_id FROM dr
         |  WHERE drank >= (SELECT count(*) % 8 FROM lineitem)
         |),
         |r0 AS (
         |  SELECT *, row_number() OVER (ORDER BY row_id) - 1 AS r0 FROM kept
         |),
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'block', '7', (r0 // 8)::VARCHAR)) AS bkey
         |  FROM r0
         |)
         |SELECT l_orderkey, l_linenumber,
         |       row_number() OVER (ORDER BY bkey, r0) - 1 AS ord
         |FROM k""".stripMargin,

    "b2_buffer_shuffle" ->
      s"""$RankedCte,
         |f AS (SELECT *, row_id // 64 AS fetch_id FROM ranked),
         |p AS (
         |  SELECT *, fetch_id * 64 + row_number() OVER (
         |    PARTITION BY fetch_id
         |    ORDER BY md5(concat_ws(':', 'yield', '42', row_id::VARCHAR)), row_id
         |  ) - 1 AS pos
         |  FROM f
         |)
         |SELECT l_orderkey, l_linenumber, fetch_id, pos,
         |       pos // 16 AS batch_id, pos % 16 AS pos_in_batch
         |FROM p""".stripMargin,

    "pipeline_block" ->
      s"""$RankedCte,
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'block', '42', (row_id // 32)::VARCHAR)) AS bkey
         |  FROM ranked
         |),
         |o AS (
         |  SELECT l_orderkey, l_linenumber,
         |         row_number() OVER (ORDER BY bkey, row_id) - 1 AS ord
         |  FROM k
         |),
         |f AS (SELECT *, ord // 128 AS fetch_id FROM o),
         |p AS (
         |  SELECT *, fetch_id * 128 + row_number() OVER (
         |    PARTITION BY fetch_id
         |    ORDER BY md5(concat_ws(':', 'yield', '42', ord::VARCHAR)), ord
         |  ) - 1 AS pos
         |  FROM f
         |)
         |SELECT l_orderkey, l_linenumber, ord, fetch_id, pos,
         |       pos // 16 AS batch_id, pos % 16 AS pos_in_batch
         |FROM p
         |WHERE pos < (SELECT (count(*) // 16) * 16 FROM lineitem)""".stripMargin,

    "b3_batch_counts" ->
      """WITH c AS (SELECT count(*) AS m FROM lineitem),
        |f AS (
        |  SELECT unnest(generate_series(0, CAST(ceil((SELECT m FROM c) / 256.0) AS BIGINT) - 1)) AS fid
        |),
        |pb AS (
        |  SELECT fid % 3 AS rnk,
        |         CAST(ceil(LEAST(256, (SELECT m FROM c) - fid * 256) / 64.0) AS BIGINT) AS nb
        |  FROM f
        |)
        |SELECT rnk AS rank, CAST(sum(nb) AS BIGINT) AS batches FROM pb GROUP BY rnk
        |UNION ALL
        |SELECT -1 AS rank, CAST(ceil((SELECT m FROM c) / 64.0) AS BIGINT) AS batches""".stripMargin,

    "u8_label_encode" ->
      """SELECT doc_id, lang,
        |       dense_rank() OVER (ORDER BY lang) - 1 AS label_id
        |FROM documents""".stripMargin,

    "o3_weighted_replace" ->
      s"""$WeightedRankedCte,
         |w AS (
         |  SELECT *, CAST(round(l_linenumber::DOUBLE *
         |    ((1000000.0 * (SELECT count(*) FROM lineitem)) /
         |     (SELECT sum(l_linenumber::DOUBLE) FROM lineitem))) AS BIGINT) AS wi
         |  FROM ranked
         |),
         |${systematicCopiesCte(11, "2 * (SELECT count(*) FROM lineitem)")},
         |${copyRanksCte("l_orderkey, l_linenumber")},
         |${blockKeyCte(11, 8)}
         |SELECT l_orderkey, l_linenumber, copy::BIGINT AS copy,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin,

    "o3_weighted_noreplace" ->
      s"""$WeightedRankedCte,
         |u AS (
         |  SELECT *, (('0x' || substr(md5(concat_ws(':', 'ares', '11', row_id::VARCHAR)), 1, 8))::BIGINT
         |             / 4294967296.0) AS uu
         |  FROM ranked
         |),
         |a AS (SELECT *, ln(uu) / (l_linenumber::DOUBLE) AS akey FROM u),
         |ar AS (
         |  SELECT *, row_number() OVER (ORDER BY akey DESC, row_id) - 1 AS arank FROM a
         |),
         |sel AS (SELECT l_orderkey, l_linenumber, row_id FROM ar WHERE arank < (SELECT count(*) // 3 FROM lineitem)),
         |sr AS (SELECT *, row_number() OVER (ORDER BY row_id) - 1 AS srank FROM sel),
         |${blockKeyCte(11, 8)}
         |SELECT l_orderkey, l_linenumber,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin,

    "o3_weighted_rounds" ->
      s"""$WeightedRankedCte,
         |a0 AS (
         |  SELECT *, ln((('0x' || substr(md5(concat_ws(':', 'ares', '11', row_id::VARCHAR)), 1, 8))::BIGINT
         |                / 4294967296.0)) / (l_linenumber::DOUBLE) AS akey
         |  FROM ranked
         |),
         |r0 AS (SELECT *, row_number() OVER (ORDER BY akey DESC, row_id) - 1 AS arank FROM a0),
         |s0 AS (SELECT l_orderkey, l_linenumber, row_id FROM r0
         |       WHERE arank < (SELECT count(*) // 3 FROM lineitem)),
         |a1 AS (
         |  SELECT *, ln((('0x' || substr(md5(concat_ws(':', 'ares1', '11', row_id::VARCHAR)), 1, 8))::BIGINT
         |                / 4294967296.0)) / (l_linenumber::DOUBLE) AS akey
         |  FROM ranked
         |),
         |r1 AS (SELECT *, row_number() OVER (ORDER BY akey DESC, row_id) - 1 AS arank FROM a1),
         |s1 AS (SELECT l_orderkey, l_linenumber, row_id FROM r1
         |       WHERE arank < (SELECT count(*) // 2 - count(*) // 3 FROM lineitem)),
         |al AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1),
         |g AS (SELECT l_orderkey, l_linenumber, row_id, count(*) AS c FROM al GROUP BY 1, 2, 3),
         |ex AS (SELECT l_orderkey, l_linenumber, row_id,
         |              unnest(generate_series(1, c)) AS copy
         |       FROM g),
         |sr AS (SELECT *, row_number() OVER (ORDER BY row_id, copy) - 1 AS srank FROM ex),
         |${blockKeyCte(11, 8)}
         |SELECT l_orderkey, l_linenumber, copy::BIGINT AS copy,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin,

    "o4_class_balanced" ->
      s"""$WeightedRankedCte,
         |cnts AS (SELECT l_returnflag AS lbl, count(*) AS cnt FROM lineitem GROUP BY 1),
         |w AS (
         |  SELECT r.*, CAST(round((1000000.0 * (SELECT count(*) FROM lineitem)) /
         |    ((SELECT count(*) FROM cnts) * c.cnt)::DOUBLE) AS BIGINT) AS wi
         |  FROM ranked r JOIN cnts c ON r.l_returnflag = c.lbl
         |),
         |${systematicCopiesCte(13, "3 * (SELECT count(*) FROM lineitem) // 2")},
         |${copyRanksCte("l_orderkey, l_linenumber, l_returnflag")},
         |${blockKeyCte(13, 16)}
         |SELECT l_orderkey, l_linenumber, l_returnflag, copy::BIGINT AS copy,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin,

    "u9_balanced_weights" ->
      """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
        |p AS (SELECT (SELECT count(*) FROM c) AS k, (SELECT count(*) FROM documents) AS n),
        |w AS (
        |  SELECT source, cnt,
        |         (SELECT n FROM p)::DOUBLE / ((SELECT k FROM p) * (cnt + 10))::DOUBLE AS wr
        |  FROM c
        |),
        |s AS (SELECT list_reduce(list(cnt * wr ORDER BY source), (a, b) -> a + b) AS tot FROM w)
        |SELECT source, cnt,
        |       round(wr * ((SELECT n FROM p)::DOUBLE / (SELECT tot FROM s)), 6) AS weight
        |FROM w""".stripMargin,

    "a2_batch_entropy" ->
      """WITH r AS (
        |  SELECT c_mktsegment, row_number() OVER (ORDER BY c_custkey) - 1 AS row_id
        |  FROM customer
        |),
        |b AS (SELECT row_id // 100 AS batch_id, c_mktsegment FROM r),
        |g AS (SELECT batch_id, c_mktsegment, count(*) AS cnt FROM b GROUP BY 1, 2),
        |l AS (
        |  SELECT batch_id, list(cnt ORDER BY c_mktsegment) AS cnts,
        |         sum(cnt) AS tot
        |  FROM g GROUP BY batch_id
        |),
        |e AS (
        |  SELECT batch_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(cnts,
        |      c -> (c::DOUBLE / tot::DOUBLE) * log2(c::DOUBLE / tot::DOUBLE))),
        |      (a, x) -> a + x) AS ent
        |  FROM l
        |)
        |SELECT batch_id, round(0.0 - ent, 6) AS entropy FROM e""".stripMargin,

    "u6_sparse_to_dense" ->
      """WITH pos AS (SELECT unnest(generate_series(0, 6)) AS pos),
        |o AS (SELECT DISTINCT l_orderkey FROM lineitem),
        |lv AS (
        |  SELECT l_orderkey, l_linenumber, max(l_quantity) AS q
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT o.l_orderkey, p.pos, coalesce(l.q, 0.0) AS val
        |FROM o CROSS JOIN pos p
        |LEFT JOIN lv l
        |  ON l.l_orderkey = o.l_orderkey AND l.l_linenumber = p.pos + 1""".stripMargin,

    // the suggestFor formula mirrored in SQL over the same fixed grid:
    // workers = clamp(cores/2, 1..16); budget = trunc(0.2·ram);
    // ff = min(1024, 2^floor(log2(max(1, budget/(2·bs·workers·sample)))))
    // via a power-of-two list (no float log2); block tiers ff/2, ff, 2·ff;
    // prefetch ff+1; shuffle = max(2·cores, 32);
    // maxPartitionBytes = clamp(budget/cores, 16 MiB..512 MiB)
    "a6_autoconfig" ->
      """WITH g AS (
        |  SELECT c.cores, sb.sample_bytes, bs.batch_size, r.ram_bytes
        |  FROM (VALUES (8), (32), (1000)) c(cores)
        |  CROSS JOIN (VALUES (256), (4096), (262144), (1048576)) sb(sample_bytes)
        |  CROSS JOIN (VALUES (32), (256)) bs(batch_size)
        |  CROSS JOIN (VALUES (8589934592), (68719476736)) r(ram_bytes)
        |),
        |f AS (
        |  SELECT *,
        |    greatest(1, least(cores // 2, 16)) AS workers,
        |    CAST(trunc(0.2 * ram_bytes) AS BIGINT) AS budget
        |  FROM g
        |),
        |f2 AS (
        |  SELECT *, list_max(list_filter(
        |      [1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024],
        |      p -> p <= greatest(CAST(1 AS BIGINT),
        |        budget // (2 * batch_size * workers * sample_bytes)))) AS ff
        |  FROM f
        |)
        |SELECT CAST(cores AS BIGINT) AS cores,
        |  CAST(sample_bytes AS BIGINT) AS sample_bytes,
        |  CAST(batch_size AS BIGINT) AS batch_size,
        |  CAST(ram_bytes AS BIGINT) AS ram_bytes,
        |  CAST(workers AS BIGINT) AS workers,
        |  CAST(ff AS BIGINT) AS fetch_factor,
        |  CAST(greatest(1, ff // 2) AS BIGINT) AS block_size_small,
        |  CAST(ff AS BIGINT) AS block_size,
        |  CAST(ff * 2 AS BIGINT) AS block_size_large,
        |  CAST(ff + 1 AS BIGINT) AS prefetch_factor,
        |  CAST(greatest(2 * cores, 32) AS BIGINT) AS shuffle_partitions,
        |  CAST(greatest(16777216, least(536870912, budget // cores)) AS BIGINT)
        |    AS max_partition_bytes
        |FROM f2""".stripMargin,

    "b6_epoch_divergence" ->
      """WITH r AS (
        |  SELECT p_partkey, row_number() OVER (ORDER BY p_partkey) - 1 AS rid
        |  FROM part
        |),
        |a AS (
        |  SELECT p_partkey, row_number() OVER (
        |    ORDER BY md5(concat_ws(':', 'block', '42', (rid // 8)::VARCHAR)), rid) - 1 AS ord_e0
        |  FROM r
        |),
        |b AS (
        |  SELECT p_partkey, row_number() OVER (
        |    ORDER BY md5(concat_ws(':', 'block', '1042', (rid // 8)::VARCHAR)), rid) - 1 AS ord_e1
        |  FROM r
        |)
        |SELECT p_partkey, ord_e0, ord_e1 FROM a JOIN b USING (p_partkey)""".stripMargin,

    "u5_densify_project" ->
      """WITH pos AS (SELECT unnest(generate_series(0, 6)) AS pos),
        |o AS (SELECT DISTINCT l_orderkey FROM lineitem),
        |lv AS (
        |  SELECT l_orderkey, l_linenumber, max(l_quantity) AS q
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT o.l_orderkey, ord.o_orderpriority, p.pos, coalesce(l.q, 0.0) AS val
        |FROM o CROSS JOIN pos p
        |JOIN orders ord ON ord.o_orderkey = o.l_orderkey
        |LEFT JOIN lv l
        |  ON l.l_orderkey = o.l_orderkey AND l.l_linenumber = p.pos + 1""".stripMargin,

    "u2_hooks_pipeline" ->
      """WITH r AS (
        |  SELECT c_acctbal, row_number() OVER (ORDER BY c_custkey) - 1 AS rid
        |  FROM customer
        |),
        |b AS (
        |  SELECT rid // 128 AS batch_id,
        |         CAST(trunc(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM r
        |)
        |SELECT batch_id, count(*) AS n,
        |       CAST(sum(cents) AS BIGINT) AS cents_sum,
        |       CAST(trunc(CAST(sum(cents) AS DOUBLE) / count(*)) AS BIGINT) AS cents_mean
        |FROM b GROUP BY batch_id""".stripMargin,

    "p3_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN u < 0.8 THEN 'train'
        |       WHEN u < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    (('0x' || substr(md5(concat_ws(':', 'split', '42', (doc_id)::VARCHAR)), 1, 8))::BIGINT
        |     / 4294967296.0) AS u
        |  FROM documents)""".stripMargin,

    "o3_domain_mixture" -> {
      val partsValues = MixParts
        .map { case (s, p) => s"('$s', $p)" }.mkString(", ")
      s"""WITH r AS (
         |  SELECT doc_id, source, row_number() OVER (ORDER BY doc_id) - 1 AS row_id
         |  FROM documents
         |),
         |prt AS (SELECT * FROM (VALUES $partsValues) AS t(lbl, parts)),
         |cnts AS (SELECT source AS lbl, count(*) AS cnt FROM documents GROUP BY 1),
         |w AS (
         |  SELECT r.*, CAST(round(((1000000.0 * (SELECT count(*) FROM documents)) * p.parts::DOUBLE) /
         |    ((SELECT sum(parts) FROM prt) * c.cnt)::DOUBLE) AS BIGINT) AS wi
         |  FROM r JOIN cnts c ON r.source = c.lbl JOIN prt p ON r.source = p.lbl
         |),
         |${systematicCopiesCte(17, "2 * (SELECT count(*) FROM documents)")},
         |${copyRanksCte("doc_id, source")},
         |${blockKeyCte(17, 8)}
         |SELECT doc_id, source, copy::BIGINT AS copy,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin
    },

    "pack_plan" -> PackPlanSql,

    "p3_stratified" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ${graft.core.Rng.Md5.uniformSql(7L, "strat", Seq("doc_id"))} <
         |  CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
         |              WHEN 'src2' THEN 0.25 ELSE 0.1 END""".stripMargin,

    "o3_temperature" ->
      s"""WITH c AS (
         |  SELECT source AS cls, count(*)::DOUBLE AS n FROM documents GROUP BY 1),
         |mn AS (SELECT min(n) AS nmin FROM c),
         |f AS (
         |  SELECT cls, round(least(1.0, pow(n / nmin, -0.5)), 6) AS fr
         |  FROM c CROSS JOIN mn)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN f ON f.cls = d.source
         |WHERE ${graft.core.Rng.Md5.uniformSql(11L, "temp", Seq("d.doc_id"))} < f.fr""".stripMargin,

    "p3_quota" ->
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${graft.core.Rng.Md5.sortKeySql(13L, "quota", Seq("doc_id"))}, doc_id) AS rn
         |  FROM documents)
         |SELECT doc_id, source FROM r WHERE rn <= 8""".stripMargin,

    "o3_token_mixture" ->
      s"""WITH c AS (
         |  SELECT source AS cls,
         |    sum(len(${toksSql("text")}))::DOUBLE AS toks
         |  FROM documents GROUP BY 1),
         |f AS (
         |  SELECT cls,
         |    round(least(1.0, 200000.0 *
         |      (CASE cls WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.0 WHEN 'src2' THEN 1.0 END)
         |      / 5.0 / toks), 6) AS fr
         |  FROM c WHERE cls IN ('src0', 'src1', 'src2'))
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN f ON f.cls = d.source
         |WHERE ${graft.core.Rng.Md5.uniformSql(17L, "tokmix", Seq("d.doc_id"))} < f.fr""".stripMargin,

    "o3_upsample" ->
      s"""WITH c AS (
         |  SELECT source AS cls,
         |    sum(len(${toksSql("text")}))::DOUBLE AS toks
         |  FROM documents GROUP BY 1),
         |f AS (
         |  SELECT cls,
         |    round(2000000.0 *
         |      (CASE cls WHEN 'src0' THEN 5.0 WHEN 'src1' THEN 1.0 END)
         |      / 6.0 / toks, 6) AS fr
         |  FROM c WHERE cls IN ('src0', 'src1')),
         |r AS (
         |  SELECT d.doc_id, d.source,
         |    (floor(f.fr)::INT + CASE
         |       WHEN ${graft.core.Rng.Md5.uniformSql(19L, "upsamp", Seq("d.doc_id"))} < f.fr - floor(f.fr)
         |       THEN 1 ELSE 0 END) AS reps
         |  FROM documents d JOIN f ON f.cls = d.source)
         |SELECT doc_id, source, u::BIGINT AS copy
         |FROM (SELECT doc_id, source, unnest(generate_series(0, reps - 1)) AS u
         |      FROM r WHERE reps > 0)""".stripMargin,

    // same cluster chain; split hashes on the cluster min-id label
    "p3_cluster_split" ->
      s"""WITH RECURSIVE $MinhashClusterSql
         |SELECT doc_id,
         |  CASE WHEN u < 0.8 THEN 'train'
         |       WHEN u < 0.9 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (
         |  SELECT d.doc_id,
         |    ${graft.core.Rng.Md5.uniformSql(42L, "split",
                 Seq("coalesce(cl.root, d.doc_id)"))} AS u
         |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)""".stripMargin,

    "o3_interleave" ->
      """WITH w(cls, wt) AS (VALUES ('src0', 4), ('src1', 2), ('src2', 1), ('src3', 1)),
        |r AS (
        |  SELECT d.doc_id, d.source AS cls, w.wt,
        |    row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS rn
        |  FROM documents d JOIN w ON w.cls = d.source),
        |i AS (SELECT doc_id, cls, rn, (rn * 720720) // wt AS ik FROM r)
        |SELECT doc_id, cls, ik::BIGINT AS ik,
        |  (row_number() OVER (ORDER BY ik, cls, rn) - 1)::BIGINT AS pos
        |FROM i""".stripMargin,

    "p3_exact_split" -> {
      val sk = graft.core.Rng.Md5.sortKeySql(7L, "exact_split", Seq("doc_id"))
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (ORDER BY $sk, doc_id) - 1 AS xr
         |  FROM documents
         |)
         |SELECT doc_id, source,
         |  CASE WHEN xr < 50 THEN 'test'
         |       WHEN xr < 75 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM r""".stripMargin
    },

    // the four stage oracles chained as CTEs: the filter_pipeline gate,
    // min-id-per-digest dedup, the md5-uniform split, the shard window
    "pipeline_curate" -> {
      val u = graft.core.Rng.Md5.uniformSql(42L, "split", Seq("doc_id"))
      val sk = graft.core.Rng.Md5.sortKeySql(5L, "shard", Seq("doc_id"))
      s"""WITH ${TextQueries.GateCte},
         |g AS (
         |  SELECT doc_id FROM q
         |  WHERE n_tokens >= 20 AND n_tokens <= 1000 AND quality >= 0.5
         |    AND lang_pred IN ('en', 'de', 'es', 'fr')
         |),
         |gd AS (SELECT d.doc_id, d.text FROM documents d JOIN g ON d.doc_id = g.doc_id),
         |kept AS (
         |  SELECT doc_id FROM gd
         |  WHERE doc_id IN (SELECT min(doc_id) FROM gd GROUP BY md5(text))
         |),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN u < 0.8 THEN 'train'
         |         WHEN u < 0.9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, $u AS u FROM kept)
         |),
         |tr AS (SELECT doc_id, $sk AS sk FROM sp WHERE split = 'train'),
         |sh AS (
         |  SELECT doc_id,
         |    ('0x' || substr(sk, 1, 8))::BIGINT % 4 AS shard, sk
         |  FROM tr
         |),
         |shp AS (
         |  SELECT doc_id, shard,
         |    row_number() OVER (PARTITION BY shard ORDER BY sk, doc_id) - 1 AS pos
         |  FROM sh
         |)
         |SELECT sp.doc_id, sp.split, shp.shard, shp.pos
         |FROM sp LEFT JOIN shp ON sp.doc_id = shp.doc_id""".stripMargin
    },

    "p3_weighted_quota" -> {
      val u = graft.core.Rng.Md5.uniformSql(7L, "wquota", Seq("doc_id"))
      s"""WITH x AS (
         |  SELECT doc_id, lang,
         |    round(pow($u, 1.0 / n_chars), 6) AS sample_key
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY sample_key DESC, doc_id) AS rn FROM x)
         |SELECT doc_id, lang, sample_key FROM r WHERE rn <= 20""".stripMargin
    },

    "o3_bootstrap" -> {
      val u = graft.core.Rng.Md5.uniformSql(11L, "boot", Seq("doc_id"))
      val cum = SplitOps.poissonCum(1.0)
      val cases = cum.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString("\n    ")
      s"""WITH d AS (SELECT doc_id, $u AS u FROM documents),
         |c AS (SELECT doc_id, CASE
         |    $cases
         |    ELSE ${cum.size} END AS n
         |  FROM d)
         |SELECT doc_id, unnest(generate_series(0, n - 1)) AS copy
         |FROM c WHERE n > 0""".stripMargin
    },

    "p3_split_manifest" -> {
      val u = graft.core.Rng.Md5.uniformSql(42L, "split", Seq("doc_id"))
      s"""WITH sp AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN u < 0.8 THEN 'train'
         |         WHEN u < 0.9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, n_chars, $u AS u FROM documents))
         |SELECT split, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS chars
         |FROM sp GROUP BY split""".stripMargin
    },

    "pack_efficiency" -> {
      val plan = PackPlanSql
      s"""WITH pp AS ($plan)
         |SELECT (max(pack_id) + 1)::BIGINT AS n_packs,
         |  sum(n_tokens)::BIGINT AS total_tokens,
         |  round(sum(n_tokens)::DOUBLE /
         |    ((max(pack_id) + 1)::DOUBLE * 256.0), 6) AS fill_frac,
         |  sum(CASE WHEN spans_boundary THEN 1 ELSE 0 END)::BIGINT AS n_spanning
         |FROM pp""".stripMargin
    },

    "mix_temperature" ->
      """WITH c AS (SELECT lang AS source, count(*)::BIGINT AS n
        |  FROM documents GROUP BY 1),
        |t AS (SELECT sum(n)::DOUBLE AS tot,
        |             sum(pow(n::DOUBLE, 0.5)) AS ptot FROM c)
        |SELECT source, n,
        |  round(n / tot, 6) AS share,
        |  round(pow(n::DOUBLE, 0.5) / ptot, 6) AS target_share,
        |  round((pow(n::DOUBLE, 0.5) / ptot) / (n / tot), 6)
        |    AS resample_w
        |FROM c, t""".stripMargin,

    "mix_share_sql" -> MixShareSqlShared,

    "pipeline_length_clip" ->
      s"""WITH $FlatQuantiles
         |SELECT lang, count(*)::BIGINT AS n_kept,
         |  min(n_chars)::BIGINT AS min_chars,
         |  max(n_chars)::BIGINT AS max_chars
         |FROM documents, bounds
         |WHERE n_chars BETWEEN lo AND hi
         |GROUP BY lang""".stripMargin,

    "pipeline_corpus_card" ->
      s"""WITH $HdrLenCte,
        |c AS (SELECT lb, ub, sum(n) OVER (ORDER BY bucket_id) AS cum,
        |    bucket_id FROM h),
        |t AS (SELECT sum(n)::BIGINT AS n_total FROM h),
        |med AS (
        |  SELECT min(lb)::BIGINT AS p50_len_lb, min(ub)::BIGINT
        |    AS p50_len_ub
        |  FROM c, t WHERE cum >= (n_total + 1) // 2),
        |dup AS (
        |  SELECT coalesce(count(*), 0)::BIGINT AS dup_groups,
        |    coalesce(sum(n - 1), 0)::BIGINT AS dup_docs
        |  FROM (SELECT md5(lower(trim(text))) AS h, count(*)::BIGINT AS n
        |        FROM documents GROUP BY 1) WHERE n > 1),
        |base AS (
        |  SELECT count(*)::BIGINT AS n_docs,
        |    count(DISTINCT lang)::BIGINT AS n_langs,
        |    count(DISTINCT source)::BIGINT AS n_sources,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars
        |  FROM documents)
        |SELECT * FROM base, med, dup""".stripMargin,

    "pipeline_sft_pack" -> {
      val gate = TextQueries.oracles("text_filter_pipeline")
      s"""WITH surv AS (
         |  SELECT doc_id,
         |    len(${toksSql("text")})::BIGINT AS n_tokens
         |  FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM ($gate))
         |    AND doc_id IN (
         |      SELECT min(doc_id) FROM documents GROUP BY md5(text))),
         |c AS (
         |  SELECT doc_id, n_tokens, (128 // n_tokens)::BIGINT AS size_class
         |  FROM surv),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY size_class ORDER BY doc_id) - 1 AS cr
         |  FROM c)
         |SELECT doc_id, n_tokens, size_class,
         |  (cr // size_class)::BIGINT AS bin_in_class,
         |  (cr % size_class)::BIGINT AS slot
         |FROM r""".stripMargin
    },

    // the stages' own SQL chained: hard-negative candidates → hardest per
    // query (max over candidates == max over the top-k) → exact own-label
    // centroid → prototype margin → the curriculum closed form
    "pipeline_contrastive" ->
      s"""WITH ${SimilarityQueries.HardNegCandSql},
         |hn AS (SELECT query_id, max(cos) AS hneg FROM s GROUP BY 1),
         |cx AS (
         |  SELECT label::BIGINT AS label,
         |    unnest(generate_series(1, len(embedding))) AS i,
         |    embedding AS e
         |  FROM embeddings),
         |cm AS (
         |  SELECT label, CAST(i - 1 AS BIGINT) AS dim,
         |    CAST(floor(e[i]::DOUBLE * 1000000.0) AS BIGINT) AS m
         |  FROM cx),
         |ct AS (
         |  SELECT label, dim,
         |    CAST(sum(m) AS DOUBLE) / (count(*)::DOUBLE * 1000000.0)
         |      AS centroid
         |  FROM cm GROUP BY label, dim),
         |cvl AS (SELECT label, list(centroid ORDER BY dim) AS cvv
         |  FROM ct GROUP BY 1),
         |mg AS (
         |  SELECT e.vec_id AS query_id,
         |    round(${SimilarityQueries.cosSql("e.embedding", "cvl.cvv")} - hn.hneg,
         |      6) AS margin
         |  FROM embeddings e
         |  JOIN cvl ON cvl.label = e.label::BIGINT
         |  JOIN hn ON hn.query_id = e.vec_id),
         |n AS (SELECT count(*)::BIGINT AS n FROM mg),
         |rk AS (
         |  SELECT query_id, margin, row_number() OVER (
         |    ORDER BY 1.0 - margin, query_id) - 1 AS rk
         |  FROM mg),
         |bk AS (
         |  SELECT query_id, margin,
         |    (rk * 4 // (SELECT n FROM n))::BIGINT AS bucket, rk
         |  FROM rk)
         |SELECT query_id, margin, bucket,
         |  ((rk - (bucket * (SELECT n FROM n) + 3) // 4) * 4 + bucket)::BIGINT
         |    AS sched_key
         |FROM bk""".stripMargin
  )
}
