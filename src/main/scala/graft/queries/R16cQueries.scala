package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.MlOps

/** Round-16c: the DataFrame-resident codebook gauge (resident == routed
  * bit-equality asserted in-query, the sim_assign2_learned pattern) and
  * the broadened shared-string SQL surface — the SAME dialect-neutral SQL
  * string executes in Spark (over temp views) and in the DuckDB oracle,
  * proving the tpch_q6_sql path generalizes beyond TPC-H to the dedup and
  * quality tiers. */
object R16cQueries extends QuerySet {

  /** Shared-string SQL: exact-dedup tier — content-hash groups with the
    * min-id keeper policy and copy counts.  Every function (md5, lower,
    * trim, min, count) and GROUP BY 1 are common to Spark SQL and DuckDB;
    * integer-only outputs, no float drift. */
  private[queries] val DdExactSqlShared =
    """SELECT md5(lower(trim(text))) AS content_hash,
      |       min(doc_id) AS keeper_id,
      |       CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents
      |GROUP BY 1""".stripMargin

  /** Shared-string SQL: a character-level quality gate — length window +
    * a minimum space share (20·spaces ≥ chars ⇔ mean word length ≤ 19),
    * the cheap "is this prose" filter.  Integer arithmetic only. */
  private[queries] val QualityGateSqlShared =
    """SELECT doc_id,
      |       CAST(length(text) AS BIGINT) AS n_chars_m,
      |       CAST(length(text) - length(replace(text, ' ', ''))
      |         AS BIGINT) AS n_spaces,
      |       CASE WHEN length(text) >= 100 AND length(text) <= 4000
      |             AND (length(text) - length(replace(text, ' ', ''))) * 20
      |                 >= length(text)
      |            THEN 1 ELSE 0 END AS keep
      |FROM documents""".stripMargin

  /** Shared-string SQL: the per-language mixture share card (counts +
    * exact char mass — the numerator/denominator of every sampling
    * temperature). */
  private[queries] val MixShareSqlShared =
    """SELECT lang,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Resident-codebook gauge: kmeansFitResident (no k×d driver collect)
    // must reproduce kmeansFitRouted's distributed-init regime bit-for-
    // bit — centers AND assignment — on the embeddings corpus.  The
    // equality is asserted IN the compared output (the
    // sim_assign2_learned pattern); the oracle replays the invariant.
    "ml_kmeans_resident" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val k = 16
      // ONE refine iteration exercises the full update + empty-cluster
      // carry; 2+ only repeats the same algebra at double the bench cost
      // (R16ResidentKmeansSpec runs 2-iteration equality on fixtures)
      val (rc, ra) = MlOps.kmeansFitRouted(e, col("embedding"),
        col("vec_id"), k, seed = 7L, maxDriverRows = 2L * k - 1,
        refineIters = 1, probe = 3)
      val (cc, ca) = MlOps.kmeansFitResident(e, col("embedding"),
        col("vec_id"), k, seed = 7L, refineIters = 1, probe = 3)
      import s.implicits._
      val routedDf = s.createDataset(rc.toSeq.zipWithIndex
          .map { case (v, i) => (i.toLong, v.toSeq) })
        .toDF("centroid_id", "rv")
      // ONE emptiness action over the union of both mismatch sets (the
      // boolean is identical: no center mismatch AND no assignment
      // mismatch) — the two subtrees schedule concurrently inside a
      // single job instead of two serial driver actions
      val centerMism = cc.join(routedDf, "centroid_id")
        .where(col("cv") =!= col("rv")).select(lit(1L).as("m"))
      val assignMism = ra.withColumnRenamed("cluster", "c_r")
        .join(ca.withColumnRenamed("cluster", "c_d"), "vec_id")
        .where(col("c_r") =!= col("c_d")).select(lit(1L).as("m"))
      // count(), not isEmpty: take(1)'s incremental-limit cascade costs
      // several jobs on an (expected-)empty result; count is exactly one
      val bitEqual = centerMism.unionAll(assignMism).count() == 0L
      e.agg(count(lit(1)).as("n_vecs"))
        .select(col("n_vecs"), lit(k).as("k"),
          lit(bitEqual).as("bit_equal"))
    }),

    "dd_exact_sql" -> ((s, dir) => {
      Tables.docs(s, dir).createOrReplaceTempView("documents")
      s.sql(DdExactSqlShared)
    }),

    "text_quality_sql" -> ((s, dir) => {
      Tables.docs(s, dir).createOrReplaceTempView("documents")
      s.sql(QualityGateSqlShared)
    }),

    "mix_share_sql" -> ((s, dir) => {
      Tables.docs(s, dir).createOrReplaceTempView("documents")
      s.sql(MixShareSqlShared)
    })
  )

  def oracles: Map[String, String] = Map(
    "ml_kmeans_resident" ->
      """SELECT count(*)::BIGINT AS n_vecs, 16 AS k, true AS bit_equal
        |FROM embeddings""".stripMargin,
    "dd_exact_sql" -> DdExactSqlShared,
    "text_quality_sql" -> QualityGateSqlShared,
    "mix_share_sql" -> MixShareSqlShared
  )
}
