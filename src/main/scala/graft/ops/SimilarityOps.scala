package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scalar kernels (dot/cosine) are sequential left-fold expressions over the
  * array — codegen-friendly, shuffle-free, and bit-deterministic (fixed
  * association order), which both makes results retry-safe and lets the
  * DuckDB oracle reproduce them exactly.
  *
  * Search paths:
  *  - [[bruteTopK]]: exact top-k for a small query set — broadcast the
  *    queries, one scan over the corpus, per-partition top-k via window.
  *  - [[lshBuckets]] + [[lshTopK]]: the scale path — deterministic random-
  *    hyperplane signs from md5(seed, plane, dim), per-row bucket id (no
  *    shuffle), then candidate generation only within buckets.  At 100 TB
  *    the bucket column also serves as a partition/bucketing key so repeated
  *    queries never rescan the full corpus.
  */
object SimilarityOps {

  /** Sequential dot product of two equal-length float arrays, in double —
    * a codegen'd native expression ([[graft.functions.DotProduct]]), same
    * fold order as the interpreted HOF form it replaced. */
  def dot(a: Column, b: Column): Column = graft.functions.VecKernels.dot(a, b)

  /** Sequential squared norm (codegen'd [[graft.functions.Norm2]]). */
  def norm2(a: Column): Column = graft.functions.VecKernels.norm2(a)

  /** Cosine similarity, computed as dot / (sqrt(n2a) * sqrt(n2b)). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** The `k` first rows of each `query_id` of `scored` in `order` (by
    * default 6-dp cosine descending, neighbor id ascending), with their
    * 0-based position as `rankCol` — the rank tail of every top-k search. */
  private[ops] def topKPerQuery(scored: DataFrame, k: Int,
      order: Seq[Column] = Seq(col("cos").desc, col("neighbor_id")),
      rankCol: String = "rank"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(order: _*)
    scored.withColumn(rankCol, row_number().over(w) - 1)
      .where(col(rankCol) < k)
  }

  /** Each query's `nprobe` nearest centroids as a window over the queries
    * × broadcast centroids: 6-dp cosine descending, lowest id on ties.
    * `q` is (query_id, qv), `ct` (centroid_id, ctv); output (query_id, qv,
    * centroid_id). */
  private def windowProbes(q: DataFrame, ct: DataFrame,
      nprobe: Int): DataFrame = {
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("ccos").desc, col("centroid_id"))
    q.crossJoin(broadcast(ct))
      .select(col("query_id"), col("qv"), col("centroid_id"),
        round(cosine(col("qv"), col("ctv")), 6).as("ccos"))
      .withColumn("rn", row_number().over(wq))
      .where(col("rn") <= nprobe)
      .select("query_id", "qv", "centroid_id")
  }

  /** Each vec_id's best centroid in `scored` (vec_id, centroid_id, score):
    * the highest `score` when `highest`, else the lowest, ties to the
    * lowest centroid id.  An argmax as a hash aggregate, not a window:
    * max_by over the lexicographic (±score, −centroid_id) key equals rank
    * 1 of (score, centroid_id ASC), with map-side combine and no sort
    * exchange.  Output: (vec_id, centroid_id, score). */
  private def bestCentroid(scored: DataFrame, score: String,
      highest: Boolean): DataFrame = {
    val key = if (highest) col(score) else negate(col(score))
    scored.groupBy("vec_id")
      .agg(max_by(struct(col("centroid_id"), col(score)),
        struct(key, negate(col("centroid_id")))).as("best"))
      .select(col("vec_id"), col("best.centroid_id").as("centroid_id"),
        col(s"best.$score").as(score))
  }

  /** Exact top-k cosine neighbours for each query vector.
    * Output: (query_id, neighbor_id, cos, rank).  Ranking is by cosine
    * rounded to 6 decimals with id tiebreak — deterministic under ties. */
  def bruteTopK(corpus: DataFrame, vec: Column, id: Column,
      queries: DataFrame, qvec: Column, qid: Column, k: Int): DataFrame = {
    val c = corpus.select(id.as("neighbor_id"), vec.as("cv"))
    val q = queries.select(qid.as("query_id"), qvec.as("qv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos"))
    topKPerQuery(scored, k)
  }

  /** NULL-label guard shared by both hard-negative miners: `=!=` on a
    * NULL label evaluates to NULL and the join would silently DROP the
    * row — the repo's fail-loud contract (hdrHistogram, packBins*) says
    * raise instead.  `raise_error` is NullType, so the `when` keeps the
    * label's own type. */
  private def guardedLabel(label: Column, who: String): Column =
    when(label.isNull, raise_error(lit(s"$who: NULL label")))
      .otherwise(label)

  /** Hard-negative mining for contrastive / embedding training: for each
    * query, the top-k highest-cosine corpus vectors whose `label` DIFFERS
    * from the query's — the negatives a contrastive loss learns most from
    * (the in-batch-negatives upgrade every retrieval-training pipeline
    * runs, cf. DPR / SimCSE hard-negative sampling).
    *
    * The label filter sits BEFORE the rank window, not after it: filtering
    * a plain top-k afterwards would silently return < k negatives whenever
    * positives dominate the neighbourhood — the exact regime where hard
    * negatives matter.  Output: (query_id, neighbor_id, cos, rank), rank
    * dense per query over negatives only.
    *
    * Scale shape: identical to [[bruteTopK]] — broadcast the (small) query
    * side, one corpus scan, window keyed by query_id.  For corpus-sized
    * query sets compose the same filter-then-rank with [[knnJoinIvf]]'s
    * candidate generation instead (probe the index, filter label, rank). */
  def hardNegatives(corpus: DataFrame, vec: Column, id: Column,
      label: Column, queries: DataFrame, qvec: Column, qid: Column,
      qlabel: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val c = corpus.select(id.as("neighbor_id"), vec.as("cv"),
      guardedLabel(label, "hardNegatives").as("__nl"))
    val q = queries.select(qid.as("query_id"), qvec.as("qv"),
      guardedLabel(qlabel, "hardNegatives").as("__ql"))
    val scored = c.join(broadcast(q),
        col("neighbor_id") =!= col("query_id") &&
          col("__nl") =!= col("__ql"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos"))
    topKPerQuery(scored, k)
      // rank as long: schema parity with [[hardNegativesIvf]], so the
      // exact and IVF paths union/substitute without implicit coercion
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** [[hardNegatives]] through the IVF candidate path — the corpus-sized-
    * query-set form (mine negatives for EVERY training example, not a
    * handful of probes).  Probe selection and cell assignment are exactly
    * [[knnJoinIvf]]'s flat branch (per-row probe pick against the
    * broadcast centroid array, shuffle join on centroid_id); the label
    * filter sits between the cell join and the rank window, so the top-k
    * ranks NEGATIVES within the probed cells — same reason as
    * [[hardNegatives]]: filtering after the rank starves exactly the
    * queries whose neighbourhood is positive-dominated. */
  def hardNegativesIvf(corpus: DataFrame, vec: Column, id: Column,
      label: Column, queries: DataFrame, qvec: Column, qid: Column,
      qlabel: Column, centroids: DataFrame, cvec: Column, cid: Column,
      k: Int, nprobe: Int = 1): DataFrame = {
    require(k > 0 && nprobe > 0, "k and nprobe must be positive")
    val probes = flatProbes(queries.select(qid.cast("long").as("query_id"),
      qvec.as("qv"),
      guardedLabel(qlabel, "hardNegativesIvf").as("__ql")),
      centroids, cvec, cid, nprobe)
    val cells = ivfAssign(corpus, vec, id, centroids, cvec, cid)
      .select(col("vec_id").as("neighbor_id"),
        col("centroid_id").cast("long").as("centroid_id"))
    val rightCells = corpus
      .select(id.cast("long").as("neighbor_id"), vec.as("nv"),
        guardedLabel(label, "hardNegativesIvf").as("__nl"))
      .join(cells, Seq("neighbor_id"))
    val scored = rightCells.join(probes, Seq("centroid_id"))
      .where(col("neighbor_id") =!= col("query_id") &&
        col("__nl") =!= col("__ql"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("nv")), 6).as("cos"))
    topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Per-query contrastive margin gauge from a [[hardNegatives]] run and
    * a positives frame: (query_id, hardest_neg_cos, easiest_pos_cos,
    * margin) where margin = easiest_pos − hardest_neg.  Negative margins
    * flag queries whose nearest negative out-scores some positive — the
    * rows a curriculum should upweight. */
  def negativeMargin(negatives: DataFrame, positives: DataFrame,
      pQid: Column, pCos: Column): DataFrame = {
    val n = negatives.groupBy("query_id")
      .agg(max(col("cos")).as("hardest_neg_cos"))
    val p = positives.groupBy(pQid.as("query_id"))
      .agg(min(pCos).as("easiest_pos_cos"))
    n.join(p, "query_id")
      .withColumn("margin",
        round(col("easiest_pos_cos") - col("hardest_neg_cos"), 6))
  }

  /** Deterministic ±1 sign for (seed, plane j, dim i): md5-uniform >= 0.5
    * → +1.0 else -1.0.  The sign depends only on (seed, j, i), so the whole
    * hyperplane is a plan-time constant. */
  private def planeSigns(seed: Long, j: Int, dims: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dims) { i =>
      val hex = md.digest(s"plane:$seed:$j:$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val u = java.lang.Long.parseLong(hex.substring(0, 8), 16) / 4294967296.0
      if (u >= 0.5) 1.0 else -1.0
    }
  }

  /** Signed projection of `vec` onto md5-derived hyperplane `j` — the
    * shared SRP primitive behind [[lshBucket]], the random projections
    * ([[rpProject]], [[rpProjected]]) and the banded variant
    * ([[DedupOps.embeddingPairsBanded]]).  The hyperplane is a literal
    * constant array (computed once on the driver, not per row) and the
    * projection is the codegen'd [[graft.functions.DotProduct]] — same
    * fold order as the SQL oracle. */
  private[ops] def planeProjection(vec: Column, dims: Int, j: Int,
      seed: Long): Column =
    graft.functions.VecKernels.dot(vec, typedLit(planeSigns(seed, j, dims)))

  /** Random-hyperplane LSH bucket id in [0, 2^planes): bit j is the sign of
    * the projection of the vector onto md5-derived hyperplane j
    * ([[planeProjection]]). */
  def lshBucket(vec: Column, dims: Int, planes: Int, seed: Long): Column =
    (0 until planes).map { j =>
      when(planeProjection(vec, dims, j, seed) > 0.0, lit(1 << j)).otherwise(0)
    }.reduce(_ + _)

  /** (id, bucket) for the whole corpus. */
  def lshBuckets(df: DataFrame, vec: Column, id: Column,
      dims: Int, planes: Int = 8, seed: Long = 42L): DataFrame =
    df.select(id.as("vec_id"),
      lshBucket(vec, dims, planes, seed).as("bucket"))

  /** IVF coarse-quantizer assignment: each corpus vector's nearest centroid
    * by cosine (ties by centroid id).  Centroids are broadcast (they are by
    * construction a tiny set); at scale the assignment becomes the
    * partition/bucketing key, so probes touch one cell, not the corpus. */
  def ivfAssign(corpus: DataFrame, vec: Column, id: Column,
      centroids: DataFrame, cvec: Column, cid: Column): DataFrame = {
    val c = corpus.select(id.as("vec_id"), vec.as("v"))
    val ct = centroids.select(cid.as("centroid_id"), cvec.as("cv"))
    val scored = c.crossJoin(broadcast(ct))
      .select(col("vec_id"), col("centroid_id"),
        round(cosine(col("v"), col("cv")), 6).as("cos"))
    bestCentroid(scored, "cos", highest = true)
  }

  /** Two-level (coarse → fine) centroid assignment — the O(n·√k) scale
    * path for corpus-proportional quantizers, where the flat
    * [[ivfAssign]]'s every-vector×every-centroid scan is O(n·k) =
    * O(n²/cell) and becomes the dominant quadratic term (the pair stage
    * itself is linear once cells ∝ corpus).
    *
    * Shape: (1) each FINE centroid routes to its `probe` nearest coarse
    * cells (k×K₁ work, both sets broadcast); (2) each vector picks its
    * nearest COARSE cell (n×K₁); (3) the vector scores only the fine
    * centroids routed to its coarse cell (n × ~probe·k/K₁).  With
    * K₁ ≈ √k the total is O(n·√k·probe).  `coarseC` must be a SUBSET of
    * `centroids` (e.g. the id-prefix), so every coarse cell holds at
    * least its own centroid and no vector is left candidate-less.
    *
    * Approximate: a vector whose true nearest fine centroid routed only
    * to coarse cells the vector did not pick resolves to the best
    * candidate it does see; raise `probe` for recall.  Every coarse cell
    * additionally routes to ITSELF (identity routes), so no cell is
    * candidate-less even when 6-dp cosine ties route all `probe` slots of
    * some fine centroid elsewhere — no vector can drop out of the
    * output.  Deterministic and SQL-replayable: 6-dp rounded cosine,
    * (max cos, min id) tie-breaks at every stage — the
    * `sim_assign2_agree` oracle replays both paths and the agreement
    * count exactly. */
  def ivfAssignTwoLevel(corpus: DataFrame, vec: Column, id: Column,
      centroids: DataFrame, cvec: Column, cid: Column,
      coarseC: DataFrame, probe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ct = centroids.select(cid.cast("long").as("centroid_id"),
      cvec.as("cv"))
    val co = coarseC.select(cid.cast("long").as("coarse_id"), cvec.as("gv"))
    // fine centroid -> its `probe` nearest coarse cells (tiny × tiny: the
    // window sorts k·K1 rows, a broadcast-scale set)
    val routes = ct.crossJoin(broadcast(co))
      .select(col("centroid_id"), col("cv"), col("coarse_id"),
        round(cosine(col("cv"), col("gv")), 6).as("rcos"))
      .withColumn("rn", row_number().over(Window.partitionBy("centroid_id")
        .orderBy(col("rcos").desc, col("coarse_id"))))
      .where(col("rn") <= probe)
      .select(col("coarse_id"), col("centroid_id"), col("cv"))
      // identity routes: each coarse centroid is a candidate of its own
      // cell (coarseC ⊆ centroids), so every cell has ≥1 candidate
      .unionByName(co.select(col("coarse_id"),
        col("coarse_id").as("centroid_id"), col("gv").as("cv")))
      .dropDuplicates("coarse_id", "centroid_id")
    // vector -> nearest coarse cell (n × K1)
    val v2c = ivfAssign(corpus, vec, id, coarseC, cvec, cid)
      .select(col("vec_id"), col("centroid_id").as("coarse_id"))
    // fine scoring against the routed candidates only
    bestCentroid(corpus.select(id.as("vec_id"), vec.as("v"))
      .join(v2c, "vec_id")
      .join(broadcast(routes), "coarse_id")
      .select(col("vec_id"), col("centroid_id"),
        round(cosine(col("v"), col("cv")), 6).as("cos")), "cos", highest = true)
  }

  /** Euclidean (L2) flat assignment — the metric twin of [[ivfAssign]],
    * bit-equal to the k-means assignment loop in
    * [[graft.ops.MlOps.kmeansFit]] (same sequential `(a_i−b_i)²` fold via
    * [[graft.functions.Dist2]], same strict-argmin/lowest-id tie-break),
    * so it can replace that UDF pass wherever the centroids came from a
    * k-means fit.  Output: (vec_id, centroid_id, d2). */
  def l2Assign(corpus: DataFrame, vec: Column, id: Column,
      centroids: DataFrame, cvec: Column, cid: Column): DataFrame = {
    val c = corpus.select(id.as("vec_id"), vec.as("v"))
    val ct = centroids.select(cid.cast("long").as("centroid_id"),
      cvec.as("cv"))
    bestCentroid(c.crossJoin(broadcast(ct))
      .select(col("vec_id"), col("centroid_id"),
        graft.functions.VecKernels.dist2(col("v"), col("cv")).as("d2")),
      "d2", highest = false)
  }

  /** Learned coarse level for a two-level quantizer: a seeded k-means over
    * the FINE centroid table itself ([[graft.ops.MlOps.kmeansFit]] — the
    * input is k rows, so the fit is driver-sized for any practical
    * codebook and falls to the distributed regime automatically beyond
    * that).  Returns (coarse_id = 0..k1−1, gv).  Unlike the id-prefix
    * coarse subset (a degenerate quantizer whose cells reflect id order,
    * not geometry), the learned level places coarse cells where the fine
    * centroids actually are — the routing-recall path at scale. */
  def coarseFromCentroids(centroids: DataFrame, cvec: Column, cid: Column,
      k1: Int, seed: Long = 42L, maxIter: Int = 10): DataFrame = {
    val spark = centroids.sparkSession
    import spark.implicits._
    val (cc, _) = graft.ops.MlOps.kmeansFit(centroids, cvec, cid, k1, seed,
      maxIter)
    spark.createDataset(cc.toSeq.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toSeq) })
      .toDF("coarse_id", "gv")
  }

  /** Two-level assignment with a LEARNED coarse level and L2 metric — the
    * production O(n·√k·probe) replacement for the flat O(n·k) k-means
    * assignment pass (the engine's last quadratic term when the codebook
    * grows ∝ corpus, k = n/cell).
    *
    * Shape mirrors [[ivfAssignTwoLevel]]: (1) k-means over the k fine
    * centroids gives k1 ≈ √k coarse cells ([[coarseFromCentroids]] —
    * k-row fit); (2) each fine centroid routes to its `probe` nearest
    * coarse cells; (3) each vector picks its nearest coarse cell (n×k1)
    * and scores ONLY the fine centroids routed there (n×~probe·√k).
    * Because the learned coarse set is NOT a subset of the fine set, the
    * no-empty-cell guarantee is the REVERSE route: every coarse cell
    * additionally admits its own single nearest fine centroid, so no
    * vector can drop out of the output.
    *
    * All scoring is the sequential-fold [[graft.functions.Dist2]] with
    * strict-argmin/lowest-id tie-breaks — on the vectors where the routed
    * candidate set contains the true argmin (all of them, for a
    * reasonable `probe`), the result is BIT-EQUAL to the flat k-means
    * assignment.  Approximate otherwise: a vector whose true nearest fine
    * centroid routed only to coarse cells the vector did not pick
    * resolves to the best candidate it does see; raise `probe` for
    * recall.  Deterministic for fixed (input, seed, probe).
    *
    * `broadcastRoutes = false` swaps the routes broadcast (k·probe·d
    * doubles — 3× the codebook) for a plain shuffle join on coarse_id:
    * the shape [[graft.ops.MlOps.kmeansFitResident]] needs when the
    * codebook itself outgrows executor broadcast memory.  Same rows
    * either way (max_by is order-independent). */
  def l2AssignTwoLevelLearned(corpus: DataFrame, vec: Column, id: Column,
      centroids: DataFrame, cvec: Column, cid: Column,
      probe: Int = 3, k1: Int = 0, seed: Long = 42L,
      broadcastRoutes: Boolean = true, knownK: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d2 = graft.functions.VecKernels.dist2 _
    val ct = centroids.select(cid.cast("long").as("centroid_id"),
      cvec.as("cv"))
    // callers that already know the codebook size (the k-means fits call
    // this once per refine iteration) pass it to skip a count action
    val k = if (knownK > 0) knownK else ct.count()
    // a handful of centroids has nothing to route — the flat scan IS the
    // cheap plan, and a coarse fit over ≤4 rows can't even hold 2 cells
    if (k <= 4) return l2Assign(corpus, vec, id, ct, col("cv"),
      col("centroid_id"))
    val kc = if (k1 > 0) k1
      else math.max(2L, math.ceil(math.sqrt(k.toDouble)).toLong).toInt
    val co = coarseFromCentroids(ct, col("cv"), col("centroid_id"), kc, seed)
    // fine ↔ coarse scores once (k×k1 rows, broadcast-scale): forward
    // routes (fine → `probe` nearest coarse) plus the reverse guarantee
    // (each coarse cell admits its nearest fine centroid)
    val rscore = ct.crossJoin(broadcast(co))
      .select(col("centroid_id"), col("cv"), col("coarse_id"),
        d2(col("cv"), col("gv")).as("rd2"))
    val fwd = rscore
      .withColumn("rn", row_number().over(Window.partitionBy("centroid_id")
        .orderBy(col("rd2"), col("coarse_id"))))
      .where(col("rn") <= probe)
    val rev = rscore
      .withColumn("rn", row_number().over(Window.partitionBy("coarse_id")
        .orderBy(col("rd2"), col("centroid_id"))))
      .where(col("rn") === 1)
    val routes = fwd.select(col("coarse_id"), col("centroid_id"), col("cv"))
      .unionByName(rev.select(col("coarse_id"), col("centroid_id"), col("cv")))
      .dropDuplicates("coarse_id", "centroid_id")
    // vector → nearest coarse cell (n × k1)
    val v2c = l2Assign(corpus, vec, id, co, col("gv"), col("coarse_id"))
      .select(col("vec_id"), col("centroid_id").as("coarse_id"))
    // fine scoring against the routed candidates only (n × ~probe·√k)
    bestCentroid(corpus.select(id.as("vec_id"), vec.as("v"))
      .join(v2c, "vec_id")
      .join(if (broadcastRoutes) broadcast(routes) else routes, "coarse_id")
      .select(col("vec_id"), col("centroid_id"),
        d2(col("v"), col("cv")).as("d2")), "d2", highest = false)
  }

  /** Stateless form of [[ivfAssign]]: the centroid set is a driver-held
    * literal (an IVF codebook is k·dim floats — kilobytes), so the argmax
    * is a pure per-row expression over an inline array — no join, no
    * shuffle, no state; usable unchanged on a streaming DataFrame
    * (route-to-cell at ingestion).  Bit-equal to [[ivfAssign]] under the
    * same centroids: same 6-dp rounded cosine, same (max cos, min id)
    * tie-break via lexicographic `array_max` on (cos, −id). */
  def centroidAssignStateless(df: DataFrame, vec: Column, id: Column,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    require(cents.nonEmpty, "centroid set must be non-empty")
    val scored = array(cents.map { case (cid, cv) =>
      struct(round(cosine(vec, array(cv.map(lit): _*)), 6).as("cos"),
        lit(-cid).cast("long").as("negid"))
    }: _*)
    df.select(id.as("vec_id"), array_max(scored).as("__best"))
      .select(col("vec_id"), (-col("__best.negid")).as("centroid_id"),
        col("__best.cos").as("cos"))
  }

  /** IVF search: approximate top-k via the inverted-file index — each query
    * probes its `nprobe` nearest centroids' cells and ranks exactly (cosine,
    * 6-decimal round, id tiebreak) within the probed cells only.
    * Output: (query_id, neighbor_id, cos, rank).
    *
    * Physical shape: centroids are broadcast twice (corpus-side assignment
    * via [[ivfAssign]], query-side probe selection); the only shuffle is the
    * corpus-cells ⋈ probes join on `centroid_id`.  The probe table is
    * queries × nprobe rows — broadcast when the query set is small (the
    * common case: AQE picks this up), so the corpus-side scan stays
    * shuffle-free.  At 100 TB the assignment is precomputed once and the
    * corpus is PARTITIONED BY centroid_id (see [[ivfAssign]]), so a probe
    * reads nprobe partitions, not the corpus. */
  def ivfTopK(corpus: DataFrame, vec: Column, id: Column,
      centroids: DataFrame, cvec: Column, cid: Column,
      queries: DataFrame, qvec: Column, qid: Column,
      k: Int, nprobe: Int = 1): DataFrame = {
    val cells = ivfAssign(corpus, vec, id, centroids, cvec, cid)
      .select(col("vec_id").as("neighbor_id"), col("centroid_id"))
    val corpusCells = corpus.select(id.as("neighbor_id"), vec.as("cv"))
      .join(cells, Seq("neighbor_id"))
    val q = queries.select(qid.as("query_id"), qvec.as("qv"))
    val ct = centroids.select(cid.as("centroid_id"), cvec.as("ctv"))
    val probes = windowProbes(q, ct, nprobe)
    val scored = corpusCells.join(probes, Seq("centroid_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Persist an IVF index: the corpus with its coarse-cell assignment,
    * written `partitionBy(centroid_id)` — each cell is its own partition
    * directory, so a search scans ONLY the probed cells (static pruning via
    * the probe filter; dynamic partition pruning when the probe set is a
    * join).  This is the "assignment precomputed once, corpus partitioned
    * by cell" layout the [[ivfTopK]] scaladoc describes, made durable: at
    * 100 TB the index is built once per corpus version and every subsequent
    * query batch reads nprobe cells, not the corpus. */
  def ivfIndexWrite(corpus: DataFrame, vec: Column, id: Column,
      centroids: DataFrame, cvec: Column, cid: Column, dir: String): Unit = {
    val cells = ivfAssign(corpus, vec, id, centroids, cvec, cid)
      .select(col("vec_id").as("neighbor_id"), col("centroid_id"))
    corpus.select(id.as("neighbor_id"), vec.as("cv"))
      .join(cells, Seq("neighbor_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(dir)
    // the quantizer is part of the index: persist the centroids beside the
    // cells (underscore prefix: invisible to directory reads) so a search
    // can NEVER probe with a different quantizer than the one the cells
    // were assigned under — the silent-recall-loss failure mode
    centroids.select(cid.as("centroid_id"), cvec.as("ctv"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_graft_centroids")
  }

  /** Search a persisted IVF index using ITS OWN persisted quantizer — the
    * drift-proof form of [[ivfSearchIndex]]: the centroids are read from
    * the index directory, so the probe cells always match the cells the
    * corpus was assigned to at [[ivfIndexWrite]] time. */
  def ivfSearchIndex(spark: SparkSession, indexDir: String,
      queries: DataFrame, qvec: Column, qid: Column,
      k: Int, nprobe: Int): DataFrame = {
    val ct = spark.read.parquet(s"$indexDir/_graft_centroids")
    ivfSearchIndex(spark, indexDir, ct, col("ctv"), col("centroid_id"),
      queries, qvec, qid, k, nprobe)
  }

  /** Search a persisted IVF index ([[ivfIndexWrite]]): identical semantics
    * to [[ivfTopK]] — each query probes its `nprobe` nearest centroids'
    * cells, exact (cosine, 6-decimal round, id-tiebreak) rank within the
    * probed cells — but the corpus side is the partitioned parquet index,
    * so the scan is pruned to the probed cells' directories instead of
    * re-assigning the whole corpus. */
  def ivfSearchIndex(spark: SparkSession, indexDir: String,
      centroids: DataFrame, cvec: Column, cid: Column,
      queries: DataFrame, qvec: Column, qid: Column,
      k: Int, nprobe: Int = 1): DataFrame = {
    val corpusCells = spark.read.parquet(indexDir)
    val q = queries.select(qid.as("query_id"), qvec.as("qv"))
    val ct = centroids.select(cid.as("centroid_id"), cvec.as("ctv"))
    val probes = windowProbes(q, ct, nprobe)
    val scored = corpusCells.join(broadcast(probes), Seq("centroid_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Squared L2 distance via the codegen'd kernels:
    * ‖a‖² + ‖b‖² − 2·a·b (three sequential folds — the exact arithmetic
    * the SQL oracle replays with `list_reduce`). */
  def sqdist(a: Column, b: Column): Column =
    norm2(a) + norm2(b) - lit(2.0) * dot(a, b)

  /** Product-quantization encoding: split each vector into `m` contiguous
    * subspaces of `subDim` dims and store, per subspace, the id of its
    * nearest codebook entry — 64 floats become m small ints (the
    * memory-compression step under every billion-vector ANN index; Jégou
    * et al., "Product Quantization for Nearest Neighbor Search").
    *
    * `codebooks` is (sub, code_id, cv) with `cv` a `subDim`-length slice.
    * Output: (vec_id, sub, code, d) — exploded form, one row per subspace
    * (partition/bucketing-friendly; collect to an array per vector at the
    * edge if a packed layout is wanted).
    *
    * Shape: codebooks broadcast (m × ncodes rows), argmin as a map-side
    * `min_by` hash aggregate — the corpus shuffles only on (vec_id, sub)
    * with partial combine, never on vector payloads. */
  def pqEncode(corpus: DataFrame, vec: Column, id: Column,
      codebooks: DataFrame, m: Int, subDim: Int): DataFrame = {
    val c = corpus.select(id.as("vec_id"), vec.as("v"))
    val cb = codebooks.select(col("sub"), col("code_id"), col("cv"))
    c.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("sub"), col("code_id"),
        round(sqdist(slice(col("v"), col("sub") * subDim + 1, lit(subDim)),
          col("cv")), 6).as("d"))
      .groupBy("vec_id", "sub")
      .agg(min_by(struct(col("code_id"), col("d")),
        struct(col("d"), col("code_id"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.code_id").as("code"),
        col("best.d").as("d"))
  }

  /** PQ asymmetric-distance top-k (ADC): each query computes a lookup
    * table of exact subspace distances to every codebook entry, and a
    * corpus vector's approximate distance is the sum of its codes' LUT
    * entries — the corpus side never touches a float vector again, only
    * (sub, code) ints against a broadcast LUT of queries × m × ncodes
    * rows.  Ranking: approximate distance rounded to 6 dp, ascending,
    * neighbor-id tie-break, self-pairs excluded.
    * Output: (query_id, neighbor_id, adist, rank). */
  def pqTopK(codes: DataFrame, codebooks: DataFrame,
      queries: DataFrame, qvec: Column, qid: Column,
      k: Int, m: Int, subDim: Int): DataFrame = {
    val cb = codebooks.select(col("sub"), col("code_id"), col("cv"))
    val q = queries.select(qid.as("query_id"), qvec.as("qv"))
    val lut = q.crossJoin(broadcast(cb))
      .select(col("query_id"), col("sub"), col("code_id"),
        round(sqdist(slice(col("qv"), col("sub") * subDim + 1, lit(subDim)),
          col("cv")), 6).as("ld"))
    val appx = codes.join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("code_id"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(round(sum(col("ld")), 6).as("adist"))
    topKPerQuery(appx, k, Seq(col("adist"), col("vec_id")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adist"), col("rank").cast("long").as("rank"))
  }

  /** Per-dimension corpus bounds for scalar quantization: (j, mn, mx)
    * over dims 0..dims-1.  min/max are exact and order-independent, so
    * the bounds table is deterministic; it is `dims` rows — always
    * broadcast-sized. */
  def sqBounds(corpus: DataFrame, vec: Column, dims: Int): DataFrame =
    corpus.select(posexplode(vec))
      .select(col("pos").as("j"), col("col").cast("double").as("v"))
      .groupBy("j").agg(min("v").as("mn"), max("v").as("mx"))

  /** Scalar (int8) quantization: each dimension mapped to a 0..255 code
    * on the corpus per-dim [mn, mx] range — 4× storage cut per float kept
    * in a SQL-replayable exploded layout (vec_id, j, code); a constant
    * dimension (mx = mn) codes to 0.  The bounds table broadcasts; the
    * encode itself is a narrow pass.  The SQ counterpart of [[pqEncode]]:
    * SQ8 preserves per-dim resolution, PQ preserves subspace geometry —
    * real pipelines store SQ8 and re-rank with it after a coarse index. */
  def sqEncode(corpus: DataFrame, vec: Column, id: Column,
      bounds: DataFrame): DataFrame =
    corpus.select(id.as("vec_id"), posexplode(vec))
      .select(col("vec_id"), col("pos").as("j"),
        col("col").cast("double").as("v"))
      .join(broadcast(bounds), Seq("j"))
      .select(col("vec_id"), col("j").cast("long").as("j"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(round((col("v") - col("mn")) * lit(255.0) /
            (col("mx") - col("mn")), 0).cast("long")).as("code"))

  /** SQ asymmetric top-k: exact query floats against reconstructed
    * corpus codes (r = mn + code·(mx−mn)/255), squared-L2 distance with
    * per-term fixed-point rounding so the cross-engine sum is integer-
    * exact.  The corpus side after encoding is (vec_id, j, code) ints;
    * the per-dim join fans out |corpus| × |queries| × dims rows — bound
    * the query batch (the ADC discipline), or IVF-prune first at scale.
    * Output: (query_id, neighbor_id, adist, rank). */
  def sqTopK(codes: DataFrame, bounds: DataFrame,
      queries: DataFrame, qvec: Column, qid: Column, k: Int): DataFrame = {
    val q = queries.select(qid.as("query_id"), posexplode(qvec))
      .select(col("query_id"), col("pos").as("j"),
        col("col").cast("double").as("qv"))
    val recon = codes.join(broadcast(bounds), Seq("j"))
      .select(col("vec_id"), col("j"),
        (col("mn") + col("code").cast("double") *
          (col("mx") - col("mn")) / lit(255.0)).as("r"))
    val terms = recon.join(broadcast(q), Seq("j"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round((col("qv") - col("r")) * (col("qv") - col("r")) * lit(1e6), 0)
          .cast("long").as("t6"))
    val appx = terms.groupBy("query_id", "vec_id")
      .agg((sum("t6").cast("double") / lit(1e6)).as("adist"))
    topKPerQuery(appx, k, Seq(col("adist"), col("vec_id")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adist"), col("rank").cast("long").as("rank"))
  }

  /** IVF-PQ search — the billion-vector composition (the FAISS
    * `IVFx,PQy` layout; Jégou et al. 2011 §V): the IVF coarse quantizer
    * prunes the corpus to each query's `nprobe` nearest cells, and PQ
    * asymmetric distance (ADC) ranks WITHIN the probed cells — so the
    * search cost is (corpus/cells)·nprobe code lookups per query, and the
    * corpus side of the whole plan carries only integers.
    *
    * Inputs are the two persisted artifacts a real deployment maintains:
    * `codes` = [[pqEncode]] output ((vec_id, sub, code)), `cells` =
    * [[ivfAssign]] output ((vec_id, centroid_id)).  At 100 TB both live
    * partitioned by `centroid_id` (the [[ivfIndexWrite]] layout), so the
    * probe join becomes static partition pruning: a query touches nprobe
    * directories of int codes — float vectors appear nowhere after
    * encoding.
    *
    * Shape: centroids and the per-query subspace LUT broadcast (queries ×
    * m × ncodes rows); the only corpus-side joins are int-keyed and
    * map-side; the ADC sum is a map-side-combined hash aggregate.
    * Ranking matches [[pqTopK]] (adist 6-dp, neighbor-id tie-break,
    * self-pairs excluded) restricted to probed cells.
    * Output: (query_id, neighbor_id, adist, rank). */
  def ivfPqTopK(codes: DataFrame, cells: DataFrame, codebooks: DataFrame,
      centroids: DataFrame, cvec: Column, cid: Column,
      queries: DataFrame, qvec: Column, qid: Column,
      k: Int, m: Int, subDim: Int, nprobe: Int = 1): DataFrame = {
    val q = queries.select(qid.as("query_id"), qvec.as("qv"))
    val ct = centroids.select(cid.as("centroid_id"), cvec.as("ctv"))
    val probes = windowProbes(q, ct, nprobe)
    val cb = codebooks.select(col("sub"), col("code_id"), col("cv"))
    val lut = probes.select("query_id", "qv").distinct()
      .crossJoin(broadcast(cb))
      .select(col("query_id"), col("sub"),
        col("code_id").as("code"),
        round(sqdist(slice(col("qv"), col("sub") * subDim + 1, lit(subDim)),
          col("cv")), 6).as("ld"))
    val pruned = codes.select(col("vec_id"), col("sub"), col("code"))
      .join(cells.select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
      .join(broadcast(probes.select("query_id", "centroid_id")),
        Seq("centroid_id"))
    val appx = pruned.join(broadcast(lut), Seq("query_id", "sub", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(round(sum(col("ld")), 6).as("adist"))
    topKPerQuery(appx, k, Seq(col("adist"), col("vec_id")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adist"), col("rank").cast("long").as("rank"))
  }

  /** Persist an IVF-PQ index — the durable form of [[ivfPqTopK]]'s two
    * input artifacts, laid out so a search is partition pruning + int
    * joins: PQ codes joined with their coarse-cell assignment, written
    * `partitionBy(centroid_id)` (each cell a partition directory of
    * (vec_id, sub, code) ints — float vectors appear nowhere), plus the
    * two quantizers persisted INSIDE the index (underscore-prefixed, so
    * directory reads skip them): `_graft_centroids` (the coarse quantizer,
    * same drift-proofing as [[ivfIndexWrite]]) and `_graft_codebooks` (the
    * PQ codebooks — encoding codes against one codebook and building query
    * LUTs against another is the silent-garbage-distance failure mode).
    * At 100 TB this is built once per corpus version; each query batch
    * then reads nprobe directories of ints. */
  def ivfPqIndexWrite(corpus: DataFrame, vec: Column, id: Column,
      centroids: DataFrame, cvec: Column, cid: Column,
      codebooks: DataFrame, m: Int, subDim: Int, dir: String): Unit = {
    val cells = ivfAssign(corpus, vec, id, centroids, cvec, cid)
      .select(col("vec_id"), col("centroid_id"))
    pqEncode(corpus, vec, id, codebooks, m, subDim)
      .select(col("vec_id"), col("sub"), col("code"))
      .join(cells, Seq("vec_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(dir)
    centroids.select(cid.as("centroid_id"), cvec.as("ctv"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_graft_centroids")
    codebooks.select(col("sub"), col("code_id"), col("cv"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_graft_codebooks")
  }

  /** Search a persisted IVF-PQ index ([[ivfPqIndexWrite]]) with ITS OWN
    * persisted quantizers: identical semantics and ranking to
    * [[ivfPqTopK]] (ADC within each query's nprobe nearest cells, adist
    * 6-dp, neighbor-id tie-break, self-pairs excluded), but the corpus
    * side is the partitioned code index — the probe join prunes the scan
    * to the probed cells' directories, and only (sub, code) ints flow. */
  def ivfPqSearchIndex(spark: SparkSession, indexDir: String,
      queries: DataFrame, qvec: Column, qid: Column,
      k: Int, subDim: Int, nprobe: Int = 1): DataFrame = {
    val ct = spark.read.parquet(s"$indexDir/_graft_centroids")
    val cb = spark.read.parquet(s"$indexDir/_graft_codebooks")
    val corpus = spark.read.parquet(indexDir)
    val q = queries.select(qid.as("query_id"), qvec.as("qv"))
    val probes = windowProbes(q, ct, nprobe)
    val lut = probes.select("query_id", "qv").distinct()
      .crossJoin(broadcast(cb))
      .select(col("query_id"), col("sub"),
        col("code_id").as("code"),
        round(sqdist(slice(col("qv"), col("sub") * subDim + 1, lit(subDim)),
          col("cv")), 6).as("ld"))
    val pruned = corpus.join(broadcast(probes.select("query_id", "centroid_id")),
      Seq("centroid_id"))
    val appx = pruned.join(broadcast(lut), Seq("query_id", "sub", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(round(sum(col("ld")), 6).as("adist"))
    topKPerQuery(appx, k, Seq(col("adist"), col("vec_id")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adist"), col("rank").cast("long").as("rank"))
  }

  /** Two-level per-row probe selection shared by [[knnJoinIvf]] /
    * [[knnJoinIvfIndex]]: coarse ⊆ centroids (the [[ivfAssignTwoLevel]]
    * subset convention, identity routes included), each left row scores
    * the k1 coarse cells, picks its nearest (6-dp cosine desc, lowest id),
    * and sorts only the routed fine candidates of that cell to keep
    * `nprobe` — per-row work k1 + ~routeProbe·k/k1 instead of k.
    * Everything stays per-row expressions over broadcast arrays: no
    * window, no shuffle on the left side, same as the flat branch. */
  private def probesTwoLevel(left: DataFrame, lvec: Column, lid: Column,
      centroids: DataFrame, cvec: Column, cid: Column, coarse: DataFrame,
      nprobe: Int, routeProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ct = centroids.select(cid.cast("long").as("centroid_id"),
      cvec.as("ctv"))
    val co = coarse.select(cid.cast("long").as("coarse_id"), cvec.as("gv"))
    val routes = ct.crossJoin(broadcast(co))
      .select(col("centroid_id"), col("ctv"), col("coarse_id"),
        round(cosine(col("ctv"), col("gv")), 6).as("rcos"))
      .withColumn("rn", row_number().over(Window.partitionBy("centroid_id")
        .orderBy(col("rcos").desc, col("coarse_id"))))
      .where(col("rn") <= routeProbe)
      .select(col("coarse_id"), col("centroid_id"), col("ctv"))
      .unionByName(co.select(col("coarse_id"),
        col("coarse_id").as("centroid_id"), col("gv").as("ctv")))
      .dropDuplicates("coarse_id", "centroid_id")
    val routesArr = routes.groupBy("coarse_id")
      .agg(collect_list(struct(col("centroid_id"), col("ctv"))).as("__cand"))
    val coArr = co
      .agg(collect_list(struct(col("coarse_id"), col("gv"))).as("__co"))
    left.select(lid.cast("long").as("query_id"), lvec.as("qv"))
      .crossJoin(broadcast(coArr))
      .select(col("query_id"), col("qv"),
        element_at(array_sort(transform(col("__co"), g =>
          struct((lit(0.0) - round(cosine(col("qv"), g("gv")), 6))
            .as("negc"),
            g("coarse_id").as("coarse_id")))), 1)("coarse_id")
          .as("coarse_id"))
      .join(broadcast(routesArr), "coarse_id")
      .select(col("query_id"), col("qv"),
        explode(slice(array_sort(transform(col("__cand"), c =>
          struct((lit(0.0) - round(cosine(col("qv"), c("ctv")), 6))
            .as("negc"),
            c("centroid_id").as("centroid_id")))), 1, nprobe)).as("p"))
      .select(col("query_id"), col("qv"),
        col("p.centroid_id").as("centroid_id"))
  }

  /** FLAT IVF probe selection in per-row form — the shared primitive
    * behind [[knnJoinIvf]], [[knnJoinIvfIndex]] and [[hardNegativesIvf]]
    * (a tie-breaking or rounding change here changes all three together);
    * [[ivfTopK]], [[ivfSearchIndex]], [[ivfPqTopK]] and [[ivfPqSearchIndex]]
    * select the same probes in window form ([[windowProbes]]), whose plans
    * and NaN ordering differ.  `leftProj` must carry `query_id` and
    * `qv` (any extra columns ride along); the centroid table collapses to
    * ONE array row and broadcasts, each left row sorts its (0.0 − cos,
    * id) entries locally and keeps `nprobe` — no window, no shuffle on
    * the left side.  The `0.0 − cos` key (not a negation) keeps `-0.0`
    * out of the array ordering, which is NOT float-normalized. */
  private[ops] def flatProbes(leftProj: DataFrame, centroids: DataFrame,
      cvec: Column, cid: Column, nprobe: Int): DataFrame = {
    val ctArr = centroids
      .select(cid.cast("long").as("centroid_id"), cvec.as("ctv"))
      .agg(collect_list(struct(col("centroid_id"), col("ctv")))
        .as("__cents"))
    val keep = leftProj.columns.map(col).toSeq
    leftProj.crossJoin(broadcast(ctArr))
      .select(keep :+
        explode(slice(array_sort(transform(col("__cents"), c =>
          struct((lit(0.0) - round(cosine(col("qv"), c("ctv")), 6))
            .as("negc"),
            c("centroid_id").as("centroid_id")))), 1, nprobe)).as("p"): _*)
      .select(keep :+ col("p.centroid_id").as("centroid_id"): _*)
  }

  /** Large×large kNN JOIN via shared IVF cells — the two-corpus form of
    * [[ivfTopK]].  There the query set is driver-sized and the probe table
    * broadcasts; here BOTH sides are corpus-scale (embedding-join two
    * shards, link a refresh against the prior corpus version), so nothing
    * per-row may broadcast or window on a small key.
    *
    * Probe selection is a PER-ROW expression: the centroid table (tiny by
    * construction) collapses to one array row and broadcasts; each left
    * row sorts its |cells| (cos, id) entries locally and keeps `nprobe` —
    * no window, no shuffle on the left side for probing.  The `0.0 − cos`
    * sort key (instead of a negation) keeps `-0.0` out of the array
    * ordering, which — unlike Spark's exchange sort — is NOT float-
    * normalized.
    *
    * Shuffles: exactly two that touch corpus-scale data — the probes ⋈
    * right-cells join on `centroid_id` (in-cell fan-out = |left probes in
    * cell| × |right in cell|, the usual LSH-join bound — never the cross
    * product) and the final per-left top-k window on `query_id`.  At
    * 100 TB, right-side cells come from a persisted [[ivfIndexWrite]]
    * layout, and both sides can be pre-partitioned on `centroid_id` to
    * make the join co-located.
    *
    * Ranking matches [[ivfTopK]]: cosine 6-dp, neighbor-id tie-break,
    * `rank` 0-based, rows with `neighbor_id == query_id` excluded (so the
    * self-join degenerates to ivfTopK with a corpus-sized query set).
    * Output: (query_id, neighbor_id, cos, rank). */
  def knnJoinIvf(left: DataFrame, lvec: Column, lid: Column,
      right: DataFrame, rvec: Column, rid: Column,
      centroids: DataFrame, cvec: Column, cid: Column,
      k: Int, nprobe: Int = 1,
      coarse: Option[DataFrame] = None, routeProbe: Int = 3): DataFrame = {
    val probes = coarse match {
      case None =>
        flatProbes(left.select(lid.cast("long").as("query_id"),
          lvec.as("qv")), centroids, cvec, cid, nprobe)
      case Some(co0) =>
        // TWO-LEVEL probe selection (`coarse` ⊆ centroids, the
        // [[ivfAssignTwoLevel]] convention): each left row scores the k1
        // coarse cells, picks its nearest, and sorts only the fine
        // centroids ROUTED to that cell — per-row work k1 + ~routeProbe·
        // k/k1 instead of k, the O(n·√k) path for corpus-proportional
        // codebooks.  Same orderings as the flat branch everywhere
        // (6-dp cosine desc, lowest id on ties), so the routed choice is
        // SQL-replayable (the `sim_knn_join` oracle replays it).
        probesTwoLevel(left, lvec, lid, centroids, cvec, cid, co0,
          nprobe, routeProbe)
    }
    // the right-side cell assignment stays FLAT in both forms: it is the
    // BUILD-time cost (amortized once in the persisted layout, which is
    // how the 100 TB path runs), so routing it would only break output
    // parity with [[knnJoinIvfIndex]] — the recurring per-query term is
    // probe selection, which is what the coarse route removes.  Callers
    // who want a routed build use [[ivfAssignTwoLevel]] /
    // [[l2AssignTwoLevelLearned]] directly.
    val cells = ivfAssign(right, rvec, rid, centroids, cvec, cid)
      .select(col("vec_id").as("neighbor_id"), col("centroid_id")
        .cast("long").as("centroid_id"))
    val rightCells = right
      .select(rid.cast("long").as("neighbor_id"), rvec.as("nv"))
      .join(cells, Seq("neighbor_id"))
    val scored = rightCells.join(probes, Seq("centroid_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("nv")), 6).as("cos"))
    topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** [[knnJoinIvf]] with the right side read from a persisted IVF index
    * ([[ivfIndexWrite]]) and probed with the index's OWN quantizer
    * (`_graft_centroids` — the drift-proofing of [[ivfSearchIndex]]).
    * Identical output to knnJoinIvf over the indexed corpus with the same
    * centroids; physically, the right side arrives pre-assigned AND
    * pre-partitioned on `centroid_id`, so the cell join needs no
    * assignment pass and no right-side shuffle — at 100 TB the index is
    * built once and every left-corpus linkage run joins against cell
    * directories directly. */
  def knnJoinIvfIndex(spark: SparkSession, indexDir: String,
      left: DataFrame, lvec: Column, lid: Column,
      k: Int, nprobe: Int = 1, coarseK1: Int = 0,
      routeProbe: Int = 3): DataFrame = {
    val ct = spark.read.parquet(s"$indexDir/_graft_centroids")
      .select(col("centroid_id").cast("long").as("centroid_id"), col("ctv"))
    val probes = if (coarseK1 > 0)
      // two-level probe routing against the index's own quantizer: the
      // coarse level is the id-prefix subset of the persisted centroids
      // (same subset convention as [[ivfAssignTwoLevel]], so the routed
      // choice is SQL-replayable and identical to [[knnJoinIvf]] with
      // the same coarse set)
      probesTwoLevel(left, lvec, lid, ct, col("ctv"), col("centroid_id"),
        ct.where(col("centroid_id") < coarseK1), nprobe, routeProbe)
    else
      flatProbes(left.select(lid.cast("long").as("query_id"),
        lvec.as("qv")), ct, col("ctv"), col("centroid_id"), nprobe)
    val rightCells = spark.read.parquet(indexDir)
      .select(col("neighbor_id").cast("long").as("neighbor_id"), col("cv"),
        col("centroid_id").cast("long").as("centroid_id"))
    val scored = rightCells.join(probes, Seq("centroid_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos"))
    topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Johnson–Lindenstrauss random projection: `dims` → `outDims` via a
    * deterministic ±1 sign matrix (Achlioptas 2003, "Database-friendly
    * random projections" — ±1 entries preserve pairwise distances within
    * (1±ε) at outDims = O(log n / ε²)), scaled by 1/√outDims so squared
    * distances are directly comparable pre/post projection.  The signs
    * reuse the (seed, j, i) md5 convention of [[lshBucket]], so the whole
    * projection matrix is a plan-time constant: each output dim is one
    * codegen'd [[graft.functions.DotProduct]] against a literal array —
    * a pure narrow map over the scan, no shuffle, no UDF.  The scale-out
    * story for every downstream ANN stage: a 4× dim cut is a 4× cut in
    * broadcast LUT size, shuffle payload, and distance-kernel work.
    * Output: (vec_id, j, val) exploded rows, j in [0, outDims). */
  def rpProject(df: DataFrame, vec: Column, id: Column, dims: Int,
      outDims: Int, seed: Long = 42L): DataFrame = {
    require(outDims > 0 && dims > 0, "dims and outDims must be positive")
    val proj = rpArray(vec, dims, outDims, seed)
    df.select(id.as("vec_id"), posexplode(proj))
      .select(col("vec_id"), col("pos").cast("long").as("j"),
        col("col").as("val"))
  }

  /** The `outDims` projections of `vec` onto planes 0 until `outDims`,
    * each scaled by 1/√outDims and rounded to 6 dp, as one array. */
  private def rpArray(vec: Column, dims: Int, outDims: Int,
      seed: Long): Column = {
    val scale = 1.0 / math.sqrt(outDims.toDouble)
    array((0 until outDims).map { j =>
      round(planeProjection(vec, dims, j, seed) * lit(scale), 6)
    }: _*)
  }

  /** [[rpProject]] in packed form: (vec_id, rvec) with `rvec` the
    * projected array — the frame downstream ANN stages consume. */
  def rpProjected(df: DataFrame, vec: Column, id: Column, dims: Int,
      outDims: Int, seed: Long = 42L): DataFrame = {
    df.select(id.as("vec_id"), rpArray(vec, dims, outDims, seed).as("rvec"))
  }

  /** Two-stage coarse-then-rerank ANN: stage 1 ranks in the JL-projected
    * `projDims`-dim space ([[rpProjected]] — the cheap kernel: `projDims/
    * dims` of the distance work and shuffle payload) and keeps `coarseK`
    * candidates per query; stage 2 re-scores ONLY those candidates with
    * exact cosine in the original space and keeps `k`.  The production ANN
    * serving shape (bi-encoder retrieve → exact re-rank): recall ≈ the
    * probability the true top-k survive the projected top-`coarseK`, which
    * the JL lemma makes high for coarseK a small multiple of k.
    *
    * Scale: the full corpus is touched once by each stage-1 query scan
    * (queries broadcast by [[bruteTopK]]); stage 2's joins carry only the
    * queries×coarseK candidate table against id-keyed vector lookups —
    * the expensive exact kernel never sees the corpus.  Output is
    * [[bruteTopK]]-shaped: (query_id, neighbor_id, cos, rank). */
  def rerankTopK(corpus: DataFrame, vec: Column, id: Column,
      queries: DataFrame, qvec: Column, qid: Column, dims: Int,
      projDims: Int, coarseK: Int, k: Int, seed: Long = 42L): DataFrame = {
    require(coarseK >= k, "coarseK must be >= k")
    val rp = rpProjected(corpus, vec, id, dims, projDims, seed)
    val rq = rpProjected(queries, qvec, qid, dims, projDims, seed)
    val coarse = bruteTopK(rp, col("rvec"), col("vec_id"),
        rq, col("rvec"), col("vec_id"), coarseK)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(id.as("neighbor_id"), vec.as("__cv"))
    val qv = queries.select(qid.as("query_id"), qvec.as("__qv"))
    val scored = coarse.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("__qv"), col("__cv")), 6).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher SIGIR'09) of two
    * per-query ranked lists — the standard hybrid-retrieval combiner
    * (lexical BM25/overlap ranks ⊕ dense embedding ranks).  Inputs carry
    * (query_id, neighbor_id, rank) with rank 0-based; a candidate absent
    * from one list simply contributes nothing from it (the full-outer
    * semantics of RRF).  fused = Σ 1/(c + rank + 1), ranked per query with
    * deterministic id tie-breaks.
    *
    * Scale shape: one shuffle on (query_id, neighbor_id) for the outer
    * join, then a per-query window — partitioned by query, never global.
    * The only floats are single IEEE divisions and one sum of two of them,
    * deterministic across engines, so the oracle replays fused scores
    * exactly at 6 dp.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60): DataFrame =
    rrfFuseMany(Seq(a, b), k, c)

  /** N-way reciprocal-rank fusion — [[rrfFuse]] generalized to any number
    * of rankers (lexical ⊕ dense ⊕ approximate ⊕ recency…): iterated
    * full-outer joins on (query_id, neighbor_id) accumulate one rank
    * column per list; fused = Σ 1/(c + rank_i + 1) with absent lists
    * contributing 0.  Join count is |lists|−1, each keyed — never a
    * global stage; the float work is one IEEE division per (candidate,
    * list) and a fixed-order sum, replayable at 6 dp. */
  def rrfFuseMany(lists: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(lists.size >= 2, s"need >= 2 rank lists, got ${lists.size}")
    require(k > 0 && c >= 0, s"k must be > 0 and c >= 0, got k=$k c=$c")
    val keyed = lists.zipWithIndex.map { case (l, i) =>
      l.select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as(s"rank_$i"))
    }
    val joined = keyed.reduce((a, b) =>
      a.join(b, Seq("query_id", "neighbor_id"), "full_outer"))
    val fused = joined.select(col("query_id"), col("neighbor_id"),
      round(lists.indices.map(i =>
          coalesce(lit(1.0) / (lit(c.toDouble) + col(s"rank_$i") + lit(1.0)),
            lit(0.0)))
        .reduce(_ + _), 6).as("fused"))
    topKPerQuery(fused, k, Seq(col("fused").desc, col("neighbor_id")), rankCol = "fused_rank")
  }

  /** Approximate top-k: exact cosine ranking restricted to each query's LSH
    * bucket.  One shuffle on bucket; the cross product never materializes. */
  def lshTopK(corpus: DataFrame, vec: Column, id: Column,
      dims: Int, planes: Int, seed: Long, k: Int): DataFrame = {
    val withB = corpus.select(id.as("vid"), vec.as("v"),
      lshBucket(vec, dims, planes, seed).as("bucket"))
    val scored = withB.as("q").join(withB.as("c"),
        col("q.bucket") === col("c.bucket") && col("q.vid") =!= col("c.vid"))
      .select(col("q.vid").as("query_id"), col("c.vid").as("neighbor_id"),
        round(cosine(col("q.v"), col("c.v")), 6).as("cos"))
    topKPerQuery(scored, k)
  }
}
