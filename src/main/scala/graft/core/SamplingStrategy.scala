package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sampling strategies — the engine's ordering/sampling operators, the
  * analogue of the reference's `SamplingStrategy` hierarchy
  * (reference: src/scdataset/strategy.py:33-180).
  *
  * Where the reference's `get_indices` materializes the whole epoch order as
  * a driver-side int64 array (reference: src/scdataset/scdataset.py:487-488),
  * `plan` returns the input DataFrame extended with a contiguous
  * [[SamplingStrategy.Ord]] column = each row's 0-based position in the epoch
  * stream — lazy, distributed, no driver materialization.  Rows may be
  * duplicated (weighted sampling with replacement) or dropped (drop_last,
  * sampling without replacement), so output cardinality is [[outputLen]],
  * not the input length.
  */
sealed trait SamplingStrategy extends Serializable {
  import SamplingStrategy.Ord

  def rng: Rng

  /** Whether ScDataset should additionally permute sample order inside each
    * fetch window before yielding (reference: src/scdataset/scdataset.py:533-536,
    * flag set at strategy.py:266,434,676). */
  def shuffleBeforeYield: Boolean

  /** Epoch-order plan: input columns + [[Ord]]. */
  def plan(sc: ScCollection, seed: Long): DataFrame

  /** Exact output cardinality given input length (reference `get_len`,
    * strategy.py:268-294,438-471,699-734). */
  def outputLen(n: Long): Long

  /** Rank rows 0..n-1 by rowId — the strategy-local re-rank that makes
    * subset collections (P3) contiguous again.  When rowId is already the
    * contiguous rank (untouched collections — the common case), this is a
    * free column copy, not a sort + zipWithIndex pass. */
  protected def ranked(sc: ScCollection): DataFrame =
    if (sc.contiguous) sc.df.withColumn(Ord, col(sc.rowId))
    else Ranker.withRank(sc.df, Ord, col(sc.rowId))
}

object SamplingStrategy {
  /** Output column: the row's position in the epoch stream. */
  val Ord = "__ord"
  /** Column holding the copy index for with-replacement duplicates. */
  val Copy = "__copy"

  /** Default for [[Caps.reservoir]] — see [[Caps]]. */
  private[graft] val ReservoirCap: Long = 1000000L

  /** Default for [[Caps.blockTable]] — see [[Caps]]. */
  private[graft] val BlockTableCap: Long = 1000000L

  /** Default for [[Caps.indexBroadcast]] — see [[Caps]]. */
  private[graft] val IndexBroadcastCap: Long = 2000000L

  /** Per-call plan-selection gates for the dual-plan strategies.  Each gate
    * switches between a driver-bounded fast path and the distributed
    * fallback (crossovers measured in BENCH_SCALE.md).  Pass explicit
    * values to force a path for a single strategy instance.
    *
    *  - `reservoir`: no-replace draws at or below this size use the
    *    single-pass bounded reservoir + broadcast semi join; larger draws
    *    use the data-wide rank.  Must stay <= Int.MaxValue (the reservoir
    *    buffer is an int-sized array).
    *  - `blockTable`: up to this many blocks the permutation offset table
    *    is sorted + prefix-summed on the driver (keys stay Spark-computed
    *    for oracle parity); beyond it the distributed rank+cumsum path
    *    takes over.
    *  - `indexBroadcast`: a final (rowId, copy, ord) sample index of at
    *    most this many rows (~24 bytes each — ~48 MB at the default) is
    *    broadcast so the wide payload side is never shuffled or sorted;
    *    beyond it both sides hash on rowId. */
  final case class Caps(
      reservoir: Long = ReservoirCap,
      blockTable: Long = BlockTableCap,
      indexBroadcast: Long = IndexBroadcastCap)

  /** Shared tail: given rows ranked 0..m-1 by `rankCol`, group into
    * contiguous blocks of `blockSize`, permute BLOCK order with a
    * deterministic per-block key, preserve intra-block order, and emit the
    * new global order in `Ord` (reference BlockShuffling core:
    * strategy.py:543-545).  The trailing partial block (if any) gets its own
    * key — i.e. it is spliced at a uniformly random boundary, matching
    * strategy.py:549-554 semantics.
    *
    * Physical shape: because `rankCol` is contiguous 0..m-1, every block's
    * size is KNOWN (blockSize, except the tail = m mod blockSize), so the
    * permutation never sorts the data.  A block table of m/blockSize rows is
    * built from `spark.range`, ranked by its random key, prefix-summed into
    * start offsets, and joined back (AQE broadcasts it while it fits); each
    * row's position is then the pointwise
    * `block_offset + rankCol - block*blockSize`.  The data path is
    * shuffle-free — the only sort in a block shuffle is over blocks, which
    * is blockSize× smaller than the data.
    */
  private[core] def blockPermute(df: DataFrame, rankCol: String,
      blockSize: Int, m: Long, rng: Rng, seed: Long, tag: String,
      blockTableCap: Long = BlockTableCap): DataFrame = {
    require(m >= 0)
    if (m == 0) return df.withColumn(Ord, col(rankCol))
    val spark = df.sparkSession
    val nBlocks = (m + blockSize - 1) / blockSize
    val tailSize = m - (nBlocks - 1) * blockSize
    val blocks = spark.range(nBlocks).toDF("__block")
      .withColumn("__bn",
        when(col("__block") < nBlocks - 1, blockSize.toLong).otherwise(tailSize))
      .withColumn("__bkey", rng.sortKey(seed, tag, col("__block")))
    // The permutation itself (sort blocks by key, prefix-sum the sizes) is
    // a driver-sized computation up to millions of blocks: the KEYS stay
    // Spark-computed (bit parity with the SQL/oracle formulation), but the
    // sort + cumsum run locally — replacing a 4-job rank/cumsum pipeline
    // whose per-pass bridge cost dominated every block-shuffled query.
    // Beyond the gate (e.g. 10^8 blocks at 100 TB with blockSize 1024) the
    // distributed rank+cumsum path takes over.
    val boff: DataFrame = if (nBlocks <= blockTableCap) {
      val rows = blocks.collect()
      val ord = new Ordering[org.apache.spark.sql.Row] {
        def compare(a: org.apache.spark.sql.Row,
            b: org.apache.spark.sql.Row): Int = {
          val c = (a.get(2), b.get(2)) match {
            case (x: String, y: String) => x.compareTo(y)
            case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
            case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y)
            case (x, y) => x.toString.compareTo(y.toString)
          }
          if (c != 0) c else java.lang.Long.compare(a.getLong(0), b.getLong(0))
        }
      }
      val sorted = rows.sorted(ord)
      val out = new Array[(Long, Long)](sorted.length)
      var acc = 0L
      var i = 0
      while (i < sorted.length) {
        out(i) = (sorted(i).getLong(0), acc)
        acc += sorted(i).getLong(1)
        i += 1
      }
      import spark.implicits._
      spark.createDataset(out.toSeq).toDF("__block", "__boff")
    } else {
      val ranked = Ranker.withRank(blocks, "__brank", col("__bkey"), col("__block"))
      Ranker.withCumsumLong(ranked, "__brank", col("__bn"), "__bcum")
        .select(col("__block"), (col("__bcum") - col("__bn")).as("__boff"))
    }
    // The offsets table comes out of driver data / bridge RDDs whose plan
    // stats are unknown (defaultSizeInBytes), so the optimizer would
    // SHUFFLE the data side of this join.  Broadcast explicitly while the
    // block table is driver-sized; beyond that a shuffle join is the right
    // plan anyway.
    val boffB = if (nBlocks <= 4000000L) broadcast(boff) else boff
    df.withColumn("__block", floor(col(rankCol) / blockSize))
      .join(boffB, Seq("__block"))
      .withColumn(Ord,
        col("__boff") + col(rankCol) - col("__block") * blockSize)
      .drop("__block", "__boff")
  }
}

/** Sequential scan order, optionally with buffer-level shuffle inside each
  * fetch window (reference Streaming, strategy.py:183-345). */
final case class Streaming(
    shuffle: Boolean = false,
    rng: Rng = Rng.Xx) extends SamplingStrategy {
  def shuffleBeforeYield: Boolean = shuffle
  def plan(sc: ScCollection, seed: Long): DataFrame = ranked(sc)
  def outputLen(n: Long): Long = n
}

/** Contiguous blocks of `blockSize`, block order permuted, intra-block order
  * preserved (reference BlockShuffling, strategy.py:348-554).
  *
  * dropLast=true removes `n % blockSize` uniformly random rows (NOT the
  * tail — reference strategy.py:536-539) before re-blocking so every block
  * is full; dropLast=false keeps the remainder as a partial block spliced at
  * a random boundary (strategy.py:549-554).
  */
final case class BlockShuffling(
    blockSize: Int = 8,
    dropLast: Boolean = false,
    rng: Rng = Rng.Xx,
    caps: SamplingStrategy.Caps = SamplingStrategy.Caps()) extends SamplingStrategy {
  import SamplingStrategy._
  require(blockSize > 0, "blockSize must be positive")
  def shuffleBeforeYield: Boolean = true

  def plan(sc: ScCollection, seed: Long): DataFrame = {
    var df = ranked(sc)
    if (dropLast) {
      val n = sc.length
      val rem = (n % blockSize).toInt
      if (rem != 0) {
        // remove the `rem` rows with the smallest drop-keys.  rem <
        // blockSize, so this is a top-k (TakeOrdered — no full sort), and
        // the survivors' re-rank is pointwise: old rank minus the number
        // of dropped rows ranked before it (a tiny broadcast list).
        val dropKeyed = df.withColumn("__dkey",
          rng.sortKey(seed, "drop", col(sc.rowId)))
        val dropped: Array[Long] = dropKeyed
          .orderBy(col("__dkey"), col(sc.rowId))
          .limit(rem).select(col(Ord)).collect().map(_.getLong(0)).sorted
        // constant-depth expression regardless of rem (a when()-chain of
        // depth rem stack-overflows Catalyst for large blockSize): count the
        // dropped ranks below this row's rank against the literal array.
        val before = size(filter(typedlit(dropped.toSeq),
          d => d < col(Ord))).cast("long")
        df = dropKeyed
          .where(!col(Ord).isInCollection(dropped))
          .withColumn(Ord, col(Ord) - before)
          .drop("__dkey")
      }
    }
    blockPermute(df.withColumnRenamed(Ord, "__r0"), "__r0", blockSize,
      outputLen(sc.length), rng, seed, "block", caps.blockTable).drop("__r0")
  }

  def outputLen(n: Long): Long = if (dropLast) n - n % blockSize else n
}

/** Weighted sampling of `totalSize` rows — with replacement via systematic
  * resampling over the exact weight prefix-sum (deterministic, exact-n,
  * single pass; duplicates allowed and output can exceed input cardinality),
  * or without replacement via the A-Res weighted reservoir
  * (key = ln(u)/w, top-n), drawn in reference-compatible [[samplingSize]]
  * rounds.  Sampled ids are then sorted ascending and
  * re-blocked exactly like BlockShuffling
  * (reference BlockWeightedSampling, strategy.py:557-867: draw at :823-844,
  * sort at :846, re-block at :848-867).
  *
  * Systematic-resampling caveat (replace=true): like any systematic
  * sampler, realized per-group totals are layout-sensitive when the weight
  * sequence is PERIODIC with a period commensurate with the threshold
  * stride W/N (e.g. synthetic rows cycling d0,d1,d2 with rational weights)
  * — each period then receives an identical allocation and per-group
  * realized counts can deviate from expectation by O(share) instead of
  * O(1/period-count).  Real corpora are not weight-periodic; for synthetic
  * ones, pre-permute rows (BlockShuffling pass) before weighting.
  *
  * `weight` must be a non-negative numeric column.  Skew note: a row's
  * copy count is ~ totalSize·w/sum(w), so a single row carrying a large
  * weight share (e.g. inverse-frequency weights of a SINGLETON class)
  * concentrates its copies in one explode task; keep degenerate classes out
  * via count smoothing (the U9 weights do) or cap weights upstream.  For `replace=true` the
  * weights are normalized then integerized (scale = 1e6·n/sum(w), ~6
  * significant digits relative to the mean weight) for an exact integer
  * prefix sum — bit-reproducible regardless of partitioning.  Pass
  * `integralWeights=true` when the weight column is already non-negative
  * integer-valued: normalization is skipped and the prefix sum is exact in
  * the ORIGINAL units (fully reproducible in external SQL engines — used by
  * the oracle-checked queries and [[ClassBalancedSampling]]).
  */
final case class BlockWeightedSampling(
    weight: Column,
    totalSize: Long,
    blockSize: Int = 8,
    replace: Boolean = true,
    integralWeights: Boolean = false,
    /** Without replacement, the reference's `sampling_size`: draws happen
      * in rounds of this size (unique within a round, repeats allowed
      * across rounds — strategy.py:833-844).  None (default) = one round of
      * `totalSize`, i.e. a globally-unique A-Res draw; a user porting a
      * reference config with `sampling_size >= total_size` gets identical
      * semantics, and with `sampling_size < total_size` the literal rounds
      * behavior.  Ignored when `replace = true` (as in the reference). */
    samplingSize: Option[Long] = None,
    rng: Rng = Rng.Xx,
    caps: SamplingStrategy.Caps = SamplingStrategy.Caps()) extends SamplingStrategy {
  import SamplingStrategy._
  require(blockSize > 0 && totalSize > 0)
  def shuffleBeforeYield: Boolean = true

  def plan(sc: ScCollection, seed: Long): DataFrame = sample(sc, sc.df, seed)

  /** [[plan]] with the weight read from `weighted` — rows of `sc.df` with
    * the weight column(s) added — while the payload comes from `sc.df`
    * itself, so the fetch never re-derives the weights (nor, for a
    * non-contiguous collection, re-runs the rank sort). */
  private[core] def sample(sc: ScCollection, weighted: DataFrame,
      seed: Long): DataFrame = {
    // Index-first physical design (the reference's own shape: sample the
    // index space, fetch payload last — scdataset.py:487-527).  The whole
    // sampling machinery — stats, prefix sums, copy expansion, block
    // permutation — runs over a NARROW (rank, rowId, weight) frame; the
    // wide payload is joined back ON the final index exactly once.  At
    // 100 TB this is the only workable plan: the index is ~24 bytes/row
    // regardless of payload width, so the multi-pass machinery never
    // touches (or caches) the data columns.
    val wide = ranked(sc.copy(df = weighted))
    // Persisted because the plan drives several actions over it (weight
    // stats, prefix-sum partials) before the final consumer executes.
    // CacheScope-registered: the consumer releases it after its terminal
    // action (the plan itself can't know when that is).
    // without replacement the A-Res key is part of the cached projection —
    // deriving it lazily would re-run the md5 on every pass over the cache
    val base = CacheScope.persist(
      if (replace)
        wide.select(col(Ord), col(sc.rowId), weight.cast("double").as("__w"))
      else
        wide.select(col(Ord), col(sc.rowId), weight.cast("double").as("__w"),
          (log(rng.uniform(seed, "ares", col(sc.rowId))) /
            weight.cast("double")).as("__akey")))
    val sampled: DataFrame =
      if (replace) {
        val wInt =
          if (integralWeights)
            // __w is an exact double image of the integer weight (< 2^53)
            base.withColumn("__wi", col("__w").cast("long"))
          else {
            // Validate + normalize in one aggregate, then integerize with
            // RELATIVE precision: scale = 1e6 * n / sum(w), so weights keep
            // ~6 significant digits relative to the mean weight no matter
            // how small the absolute values are (1/class_count at billions
            // of rows stays exact; reference normalizes and never
            // quantizes, strategy.py:678-697).
            val stats = base.agg(
              count(lit(1)).cast("long"), sum("__w"), min("__w")).head()
            val n = stats.getLong(0)
            val sumW = stats.getDouble(1)
            val minW = stats.getDouble(2)
            require(minW >= 0.0, s"negative weight: min(w)=$minW")
            require(sumW > 0.0, "weights sum to zero")
            val scale = 1000000.0 * n / sumW
            base.withColumn("__wi",
              round(col("__w") * lit(scale)).cast("long"))
          }
        // total weight comes with the cumsum's partials — no extra pass
        val (cum, total) = Ranker.withCumsumLongAndTotal(
          wInt, Ord, col("__wi"), "__cum")
        require(total > 0, "all weights rounded to zero after normalization")
        val off = rng.scalarUniform(seed, "offset")
        // systematic thresholds t_j = (j+off)*W/N; row copies =
        // g(cum) - g(cumPrev) with g = ceil(cum/W * N - off), which sums to
        // exactly N by telescoping.  NOTE the evaluation order: cum/W first
        // (a double in [0,1], full precision) THEN * N — computing cum*N
        // first overflows 2^53 once W*N > 9e15 (observed: 132 rows silently
        // lost at W≈3e11, N=3e4) and at 100 TB scale would be catastrophic.
        val g = (c: Column) =>
          ceil(c.cast("double") / lit(total.toDouble) * lit(totalSize.toDouble) - lit(off))
        // __c stays LONG: a silent int wrap at extreme (totalSize, weight
        // share) would corrupt the sample; the explode below fails loudly
        // at the JVM array limit instead (see the skew note above)
        val withCopies = cum
          .withColumn("__c", (g(col("__cum")) - g(col("__cum") - col("__wi"))).cast("long"))
          .where(col("__c") > 0)
        // the sampled order is the base order with multiplicities, so the
        // sample rank needs NO sort: each emitted copy's rank is the copy
        // prefix-sum in Ord order, minus this row's copies, plus copy - 1.
        // That prefix sum needs no pass of its own — it telescopes.  Row
        // i's `cum - wi` is exactly row i-1's `cum` (integer arithmetic),
        // so sum_{j<=i} __c_j = g(cum_i) - g(0), and g(0) = ceil(-off) = 0
        // for off in [0, 1): __ccum = g(__cum).  Rows dropped by the
        // __c > 0 filter add 0 to the sum.
        withCopies
          .withColumn("__ccum", g(col("__cum")).cast("long"))
          .withColumn(Copy, explode(sequence(lit(1L), col("__c"))))
          .withColumn("__srank",
            col("__ccum") - col("__c") + col(Copy) - 1)
          .drop("__c", "__cum", "__wi", "__w", "__ccum", Ord)
      } else {
        // Reference semantics (strategy.py:833-844): draw WITHOUT
        // replacement in rounds of `samplingSize` until totalSize — ids are
        // unique WITHIN a round but may repeat ACROSS rounds, and totalSize
        // may exceed the collection length when samplingSize < totalSize.
        // The default (samplingSize = totalSize) is one round: a plain
        // A-Res top-k.
        val ss = samplingSize.getOrElse(totalSize)
        require(ss > 0, "samplingSize must be positive")
        val roundSizes: Seq[Long] = {
          val b = Seq.newBuilder[Long]
          var drawn = 0L
          while (drawn < totalSize) {
            val sz = math.min(ss, totalSize - drawn); b += sz; drawn += sz
          }
          b.result()
        }
        require(roundSizes.head <= sc.length,
          "without replacement requires each round's draw <= collection length")
        val stats = base.agg(sum("__w"), min("__w")).head()
        require(stats.getDouble(1) >= 0.0,
          s"negative weight: min(w)=${stats.getDouble(1)}")
        require(stats.getDouble(0) > 0.0, "weights sum to zero")
        // One round's A-Res top-k (largest ln(u)/w ⇔ largest u^(1/w)) over
        // a frame carrying `__akey`; selection identical to
        // ORDER BY akey DESC, rowId LIMIT k.
        def topK(keyed: DataFrame, k: Long): DataFrame =
          if (k <= caps.reservoir) {
            // the reservoir buffer is an int-indexed array — a cap raised
            // past Int.MaxValue must not silently truncate k.toInt below
            require(k <= Int.MaxValue.toLong,
              s"reservoir draw k=$k exceeds Int.MaxValue; lower caps.reservoir")
            // driver-sized k: single-pass bounded top-k (WeightedReservoir
            // aggregate, ≤2k-entry partial buffers) + broadcast semi join —
            // no data-wide sort.  The broadcast (k ids, ≤8 MB) also
            // preserves the input's rank-tiled partitioning so the survivor
            // re-rank below stays shuffle-free.
            val reservoir = udaf(graft.functions.WeightedReservoir(k.toInt))
            val sel = keyed
              .agg(reservoir(col("__akey"), col(sc.rowId)).as("__ids"))
              .select(explode(col("__ids")).as("__selid"))
            keyed.join(broadcast(sel), keyed(sc.rowId) === col("__selid"),
              "left_semi")
          } else {
            // k beyond driver size: the bounded buffer no longer pays;
            // data-wide rank.  Ord is KEPT — the survivor re-rank below
            // prefix-sums in Ord order (the cumsum's probe sees akey-sorted
            // partitions and takes its range-sort fallback).
            Ranker.withRank(keyed, "__arank", col("__akey").desc,
                col(sc.rowId))
              .where(col("__arank") < k).drop("__arank")
          }
        // round r's A-Res key: the cached "ares" key for round 0, salted
        // "ares{r}" beyond
        def akeyOf(r: Int): Column =
          if (r == 0) col("__akey")
          else log(rng.uniform(seed, s"ares$r", col(sc.rowId))) / col("__w")
        // shared tail of the multi-round paths: rows tagged with a copy
        // COUNT expand through the same prefix-sum rank machinery as
        // replace=true.  Sorting the concatenated draws (strategy.py:846)
        // = ascending ids with copies adjacent = exactly (Ord, copy) order.
        def expandCopies(counted: DataFrame): DataFrame = {
          val withOff = Ranker.withCumsumLong(counted, Ord, col("__c"),
            "__ccum")
          withOff
            .withColumn(Copy, explode(sequence(lit(1L), col("__c"))))
            .withColumn("__srank",
              col("__ccum") - col("__c") + col(Copy) - 1)
            .drop("__c", "__ccum", Ord)
        }
        if (roundSizes.size == 1) {
          topK(base, totalSize) // key already cached
            .drop("__akey", "__w")
            .withColumn(Copy, lit(1L)) // LONG like every other plan shape
        } else if (roundSizes.size <= 32 &&
            roundSizes.forall(k => k <= caps.reservoir && k <= Int.MaxValue.toLong)) {
          // all rounds driver-sized: ONE pass computes every round's
          // reservoir simultaneously (R agg columns, R bounded buffers per
          // task), the concatenated draws collapse to per-row copy counts,
          // and one broadcast join tags the base — which preserves the
          // tiled partitioning, so the rank cumsum stays shuffle-free.
          // R+1 full passes become 1.
          val aggCols = roundSizes.zipWithIndex.map { case (k, r) =>
            udaf(graft.functions.WeightedReservoir(k.toInt))
              .apply(akeyOf(r), col(sc.rowId)).as(s"__ids$r")
          }
          val drawn = base.agg(aggCols.head, aggCols.tail: _*)
            .select(explode(concat(
              roundSizes.indices.map(r => col(s"__ids$r")): _*)).as("__selid"))
            .groupBy("__selid").agg(count(lit(1)).as("__c"))
          val counted = base
            .join(broadcast(drawn), base(sc.rowId) === col("__selid"))
            .drop("__selid", "__akey", "__w")
          expandCopies(counted)
        } else {
          // huge rounds (or very many): run each round's top-k
          // independently and collapse draws with a count shuffle
          val sels = roundSizes.zipWithIndex.map { case (k, r) =>
            val keyed =
              if (r == 0) base
              else base.withColumn("__akey", akeyOf(r))
            topK(keyed, k).select(col(Ord), col(sc.rowId))
          }
          val counted = sels.reduce(_ union _)
            .groupBy(col(Ord), col(sc.rowId))
            .agg(count(lit(1)).as("__c"))
          expandCopies(counted)
        }
      }
    // sampled ids ascending (copies adjacent), re-block, permute blocks.
    // replace=true (and the multi-round draw) already carry the prefix-sum
    // rank; the single-round no-replace survivors (all Copy=1, base order =
    // rowId order) get their rank from a count prefix-sum — shuffle-free on
    // the tiled partitioning, no sort.
    val withSrank =
      if (sampled.columns.contains("__srank")) sampled
      else Ranker.withCumsumLong(sampled, Ord, lit(1L), "__scum")
        .withColumn("__srank", col("__scum") - 1)
        .drop("__scum", Ord)
    val index = blockPermute(withSrank, "__srank", blockSize, totalSize,
      rng, seed, "wblock", caps.blockTable).drop("__srank")
    // fetch payload last: one join of the collection's own frame against
    // the final (rowId, copy, ord) index — the only pass that ever touches
    // data columns.  A driver-sized index (24 bytes × totalSize) is
    // broadcast so the payload side is never shuffled or sorted; beyond
    // that the shuffle join is the right plan (both sides hash on rowId).
    // beyond the broadcast gate, prefer a shuffle-HASH join with the index
    // as build side: both sides exchange on rowId either way, but the
    // sort-merge default additionally SORTS the wide payload side — the
    // index (3 longs/row) is always the cheaper hash build.
    if (totalSize <= caps.indexBroadcast)
      sc.df.join(broadcast(index), Seq(sc.rowId))
    else
      sc.df.join(index.hint("shuffle_hash"), Seq(sc.rowId))
  }

  def outputLen(n: Long): Long = totalSize
}

/** The seed-free step [[ClassBalancedSampling]] and [[MixtureSampling]]
  * share: the per-label table their weights are built from is collected to
  * the driver once and kept on the strategy instance for the last
  * collection it planned, matched by identity (`eq`) — the contract of
  * [[ScCollection.length]]'s memo.  Every epoch joins the kept rows as a
  * local frame, so it runs no label aggregate and no count job.  A
  * collection whose data changes under the same handle is out of
  * contract, as it is for `length`; any other handle (a `where`, `subset`
  * or `limit` of it, say) takes fresh counts. */
private[core] sealed trait LabelWeightedSampling extends SamplingStrategy {
  def label: Column

  @transient @volatile private var kept: (ScCollection, DataFrame, Long) = _

  /** `table` (a small per-label aggregate) as a local frame plus its row
    * count, collected at most once per collection handle. */
  protected def labelTable(sc: ScCollection)(
      table: => DataFrame): (DataFrame, Long) = {
    val hit = kept
    if (hit != null && (hit._1 eq sc)) (hit._2, hit._3)
    else {
      val t = table
      val rows = t.collect()
      val local = sc.df.sparkSession
        .createDataFrame(java.util.Arrays.asList(rows: _*), t.schema)
      kept = (sc, local, rows.length.toLong)
      (local, rows.length.toLong)
    }
  }

  /** Label → row count over `df`, the aggregate both strategies weigh by. */
  protected def labelCounts(df: DataFrame): DataFrame =
    df.groupBy(label.as("__lbl")).agg(count(lit(1)).as("__lcnt"))
}

/** Domain-mixture sampling: resample so domain d's EXPECTED share of the
  * epoch is `parts(d) / parts.values.sum`, regardless of its share of the
  * corpus — the domain-reweighting step of LLM data curation (fixed mixture
  * weights over sources, cf. the published Pile/DoReMi recipes).  Per-row
  * weight is `parts(d) / count(d)` (integerized like
  * [[ClassBalancedSampling]], of which this is the generalization: uniform
  * parts = class balancing), then delegates to [[BlockWeightedSampling]].
  *
  * Domains absent from `parts` get weight 0 (excluded).  Precision note:
  * the integerized weight is `round(1e6·n·parts_d / (P·count_d))`, exact
  * while `1e6·n·max(parts) < 2^53` — beyond that (corpora past ~10^9 rows
  * with large parts) rescale parts down.
  *
  * The domain counts are taken once per (strategy instance, collection
  * handle) — see [[LabelWeightedSampling]]: later epochs over the same
  * handle reuse them, so a collection whose data changes under the same
  * handle is out of contract, as it already is for `length`.
  */
final case class MixtureSampling(
    label: Column,
    parts: Map[String, Long],
    totalSize: Long,
    blockSize: Int = 8,
    replace: Boolean = true,
    rng: Rng = Rng.Xx,
    caps: SamplingStrategy.Caps = SamplingStrategy.Caps()) extends LabelWeightedSampling {
  require(parts.nonEmpty && parts.values.forall(_ >= 0L) &&
    parts.values.sum > 0L, "parts must be non-negative, not all zero")
  def shuffleBeforeYield: Boolean = true

  def plan(sc: ScCollection, seed: Long): DataFrame = {
    val spark = sc.df.sparkSession
    import spark.implicits._
    val p = parts.values.sum
    val n = sc.length
    val (domains, _) = labelTable(sc) {
      labelCounts(sc.df).join(parts.toSeq.toDF("__lbl", "__parts"), Seq("__lbl"))
    }
    val weighted = sc.df
      .join(broadcast(domains), label === col("__lbl"))
      .withColumn("__mxw",
        round((lit(1000000.0 * n) * col("__parts").cast("double")) /
          (lit(p) * col("__lcnt")).cast("double")))
      .drop("__lbl", "__lcnt", "__parts")
    BlockWeightedSampling(col("__mxw"), totalSize, blockSize, replace,
      integralWeights = replace, rng = rng, caps = caps)
      .sample(sc, weighted, seed)
  }

  def outputLen(n: Long): Long = totalSize
}

/** Inverse-class-frequency weights from a label column, then delegate to
  * weighted sampling (reference ClassBalancedSampling,
  * strategy.py:870-1098; weight computation at :1037-1098).
  *
  * Weights are computed as the INTEGER `round(1e6·n / (k·count_c))` —
  * proportional to 1/count_c with ~6 significant digits, built purely from
  * exact integer aggregates and pointwise IEEE division, so the full
  * sampling plan is reproducible in external SQL engines and immune to
  * order-dependent floating-point summation.
  *
  * Dual balancing mode (reference strategy.py:1012-1024): by default class
  * counts come from the collection being sampled (subset mode); pass
  * `countsFrom = Some(fullDf)` to balance a subset against the FULL
  * dataset's class frequencies (global mode).
  *
  * Like the reference, which derives its weights once and draws only the
  * indices per epoch, the class counts are taken once per (strategy
  * instance, collection handle) — see [[LabelWeightedSampling]]: later
  * epochs over the same handle reuse them, so a collection (or
  * `countsFrom` frame) whose data changes under the same handle is out of
  * contract, as it already is for `length`.
  */
final case class ClassBalancedSampling(
    label: Column,
    totalSize: Long,
    blockSize: Int = 8,
    replace: Boolean = true,
    countsFrom: Option[DataFrame] = None,
    rng: Rng = Rng.Xx,
    caps: SamplingStrategy.Caps = SamplingStrategy.Caps()) extends LabelWeightedSampling {
  def shuffleBeforeYield: Boolean = true

  def plan(sc: ScCollection, seed: Long): DataFrame = {
    val (counts, k) = labelTable(sc)(labelCounts(countsFrom.getOrElse(sc.df)))
    val n = sc.length
    require(k > 0, "empty collection")
    val num = 1000000.0 * n
    val weighted = sc.df.join(broadcast(counts), label === col("__lbl"))
      .withColumn("__cbw",
        round(lit(num) / (lit(k) * col("__lcnt")).cast("double")))
      .drop("__lbl", "__lcnt")
    BlockWeightedSampling(col("__cbw"), totalSize, blockSize, replace,
      integralWeights = replace, rng = rng, caps = caps)
      .sample(sc, weighted, seed)
  }

  def outputLen(n: Long): Long = totalSize
}
