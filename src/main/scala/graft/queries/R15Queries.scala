package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{MlOps, SimilarityOps}

/** Round-15 queries: the learned-coarse two-level k-means assignment —
  * the production route that removes the engine's last quadratic term
  * (flat O(n·k) assignment with k ∝ corpus) — gauged head-to-head
  * against the exact flat argmin on the real embeddings table.
  *
  * Oracle strategy (the `graph_reach_sketch` pattern): an iterative
  * seeded k-means is not SQL-expressible, so BOTH assignment paths run
  * in Spark — deterministically — and the emitted census asserts the
  * accuracy property itself.  The asserted property is QUANTIZER
  * DISTORTION (the k-means objective): total routed assignment cost ≤
  * 1.05× the exact flat cost, summed in micro-units so the comparison
  * is partitioning-independent.  Per-vector argmin IDENTITY is the
  * wrong gauge for near-isotropic data (this table's synthetic
  * embeddings route 80% id-exact at probe=3, yet cost only 1.6% extra
  * distortion — structured data is id-exact, see R15QuantSpec); what
  * semantic-dedup CELLS need is that every vector lands in a cell about
  * as tight as its true one.  This keeps the gate meaningful at every
  * scale: growing data cannot silently swap semantics, it can only push
  * distortion over the bar and fail loudly. */
object R15Queries extends QuerySet {

  /** k = ⌈n/64⌉ floor 8 — the corpus-proportional cell convention of
    * R10Queries.ivfClusters. */
  private def kOf(n: Long): Long =
    math.max(8L, math.ceil(n / 64.0).toLong)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Flat O(n·k) k-means assignment vs the learned-coarse two-level
    // O(n·√k·probe) route (the semanticDedup production gate's scale
    // path): (n_vecs, distortion_ok) — total routed cell cost within 5%
    // of the exact flat optimum, micro-unit integer sums so the census
    // is exact under any partitioning.
    "sim_assign2_learned" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val k = kOf(e.count()).toInt
      val (centers, _) = MlOps.kmeansFit(e, col("embedding"),
        col("vec_id"), k, seed = 42L)
      import s.implicits._
      val centDf = s.createDataset(centers.toSeq.zipWithIndex
          .map { case (v, i) => (i.toLong, v.toSeq) })
        .toDF("centroid_id", "cv")
      val flat = SimilarityOps.l2Assign(e, col("embedding"), col("vec_id"),
          centDf, col("cv"), col("centroid_id"))
        .select(col("vec_id"), col("d2").as("d_flat"))
      val two = SimilarityOps.l2AssignTwoLevelLearned(e, col("embedding"),
          col("vec_id"), centDf, col("cv"), col("centroid_id"), probe = 3,
          seed = 49L)
        .select(col("vec_id"), col("d2").as("d_two"))
      flat.join(two, "vec_id")
        .agg(count(lit(1)).as("n_vecs"),
          sum(round(col("d_two") * 1e6).cast("long")).as("__st"),
          sum(round(col("d_flat") * 1e6).cast("long")).as("__sf"))
        .select(col("n_vecs"),
          (col("__st").cast("double") <= col("__sf").cast("double") * 1.05)
            .as("distortion_ok"))
    })
  )

  def oracles: Map[String, String] = Map(

    // the accuracy gate: the routed quantizer's total distortion must sit
    // within 5% of the exact flat optimum (measured: 1.0× at sf0.01,
    // 1.016× at sf0.1, probe=3) and every vector must appear in BOTH
    // paths' output (the inner join makes a dropped vector shrink n_vecs)
    "sim_assign2_learned" ->
      """SELECT count(*)::BIGINT AS n_vecs, true AS distortion_ok
        |FROM embeddings""".stripMargin
  )
}
