package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SizeEstimator

/** Auto-tuning advisor — the analogue of the reference's experimental
  * auto-config (reference: src/scdataset/experimental/auto_config.py):
  * deep per-sample memory sizing (A4, `_deep_sizeof` :22-161), sample-size
  * estimation through the transform pipeline (A5, :164-275), and parameter
  * suggestion from a RAM budget (A6, :278-525).
  *
  * On Spark the sizing uses `SizeEstimator` over a small collected probe
  * (bounded: `probeRows` rows through the hook pipeline — the reference
  * probes 16 samples, :439-445), and the suggestions map to both the
  * reference's knobs (fetchFactor/blockSize/prefetch) and their Spark
  * physical equivalents (shuffle partitions, maxPartitionBytes).
  */
object AutoConfig {

  /** Suggested parameters; mirrors auto_config.py:278-525 plus the Spark
    * physical mapping. */
  final case class Suggestion(
      sampleBytes: Long,
      workers: Int,
      fetchFactor: Int,
      blockSizeSmall: Int,
      blockSize: Int,
      blockSizeLarge: Int,
      prefetchFactor: Int,
      shufflePartitions: Int,
      maxPartitionBytes: Long)

  /** A5: mean deep size of the first `probeRows` rows through the FULL hook
    * pipeline (reference estimate_sample_size, auto_config.py:164-275: each
    * sample flows fetch → fetch_transform → batch_callback(sample, [0]) →
    * batch_transform before sizing).  Each probe row is staged as a batch of
    * ONE — the reference's per-sample simulation — so the measurement
    * includes batch collation overhead, which is what feeds the RAM-budget
    * formula.  Bounded by `limit(n)` — never a full scan. */
  def estimateSampleBytes(df: DataFrame, hooks: Hooks = Hooks(),
      probeRows: Int = 16): Long = {
    import org.apache.spark.sql.functions._
    // the probe stages the reserved plan columns over the user frame; a
    // colliding user column would be silently overwritten and then EXCLUDED
    // from payload sizing — fail loudly instead of under-measuring
    val reserved = Set(SamplingStrategy.Ord, "fetch_id", "batch_id",
      "pos_in_batch", "__pos")
    val clash = df.columns.filter(reserved)
    require(clash.isEmpty,
      s"input columns collide with reserved plan names: ${clash.mkString(", ")}")
    // plan columns first, fetchTransform second — same order and SAME
    // column set as ScDataset.planFrame (__ord/fetch_id/__pos/batch_id/
    // pos_in_batch), so a hook that references any plan column works
    // identically here.  Each probe row is its own batch and its own fetch.
    // coalesce(1) makes monotonically_increasing_id contiguous 0..n-1 (one
    // partition → no partition offset) — a partition-less rank window here
    // would log WindowExec's single-partition warning on every probe.
    val pf = hooks.fetchTransform(
      df.limit(probeRows).coalesce(1)
        .withColumn("batch_id", monotonically_increasing_id())
        .withColumn(SamplingStrategy.Ord, col("batch_id"))
        .withColumn("fetch_id", col("batch_id"))
        .withColumn("__pos", col("batch_id"))
        .withColumn("pos_in_batch", lit(0L)))
    val payloadCols = pf.columns.toSeq.filterNot(
      Set(SamplingStrategy.Ord, "fetch_id", "batch_id", "pos_in_batch",
        "__pos"))
    // the batch path's own assembly: the sized row is the delivered row
    // (batch_id, n, rows — no fetch_id)
    val probe = ScDataset.assembleBatches(pf, payloadCols, hooks).collect()
    require(probe.nonEmpty, "empty collection — cannot size samples")
    // A4: SizeEstimator.estimate is the JVM deep-sizeof analogue of
    // auto_config.py:22-161 (numpy nbytes / sparse member walk).
    val total = probe.map(r => SizeEstimator.estimate(r.asInstanceOf[AnyRef])).sum
    total / probe.length
  }

  /** A6: derive loader/plan parameters from the measured sample size and a
    * RAM budget (reference suggest_parameters: workers = min(cores/2, 16)
    * :434-436; fetch budget 2·bs·ff·workers·sample < 0.2·RAM :448-462;
    * block tiers ff/2, ff, 2·ff :465-471; prefetch = ff+1 :470-471). */
  def suggest(spark: SparkSession, sampleBytes: Long, batchSize: Int,
      ramBytes: Long = Runtime.getRuntime.maxMemory): Suggestion =
    suggestFor(spark.sparkContext.defaultParallelism, sampleBytes, batchSize,
      ramBytes)

  /** The pure arithmetic of [[suggest]] with every input explicit — no
    * session, no JVM probes.  This is what the `a6_autoconfig` oracle
    * checks: the formula over a fixed (cores, sampleBytes, batchSize, ram)
    * grid is SQL-reproducible even though SizeEstimator probes are not. */
  def suggestFor(cores: Int, sampleBytes: Long, batchSize: Int,
      ramBytes: Long): Suggestion = {
    require(cores > 0 && sampleBytes > 0 && batchSize > 0)
    val workers = math.max(1, math.min(cores / 2, 16))
    val budget = (0.2 * ramBytes).toLong
    val rawFf = budget / (2L * batchSize * workers * sampleBytes)
    // clamp to a sane power-of-two in [1, 1024] like the reference's grid
    val ff = math.max(1, math.min(1024, java.lang.Long.highestOneBit(math.max(1L, rawFf)))).toInt
    val shufflePartitions = math.max(2 * cores, 32)
    // size partitions so one partition of samples fits the per-core share
    // of the budget: bytes/partition ≈ budget / cores, capped at 512 MiB
    val mpb = math.max(16L << 20, math.min(512L << 20, budget / math.max(1, cores)))
    Suggestion(
      sampleBytes = sampleBytes,
      workers = workers,
      fetchFactor = ff,
      blockSizeSmall = math.max(1, ff / 2),
      blockSize = ff,
      blockSizeLarge = ff * 2,
      prefetchFactor = ff + 1,
      shufflePartitions = shufflePartitions,
      maxPartitionBytes = mpb)
  }
}
