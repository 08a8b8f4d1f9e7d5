package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{LayoutOps, SketchOps}

/** Round-16d: mergeability across the whole sketch tier.  [[R16Queries]]
  * proved the CMS grid merges at the lake seam; this file adds the HDR
  * histogram over the same commit pattern (bucket tables merge by
  * counter addition — the same groupBy-sum that makes them executor
  * partials) and the Spark-native Datasketches HLL (hll_sketch_agg /
  * hll_union_agg — binary sketches, so the gate is an invariant: the
  * merged estimate must sit within tolerance of BOTH the direct estimate
  * and the exact distinct count; NOTE the merged and direct estimates
  * are not asserted equal — Datasketches' direct path uses the HIP
  * estimator, which is lost on union by design). */
object R16dQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // HDR mergeability at the lake seam: per-commit bucket tables via
    // lakeTail, merged by bucket_id sum — must equal the direct
    // whole-corpus histogram hash-exactly (the oracle replays direct).
    "sketch_hdr_merge" -> ((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val lake = R9Queries.runTmp + "/skh_lake_" + tag
      val ckp = R9Queries.runTmp + "/skh_ckp_" + tag
      val parts = R9Queries.runTmp + "/skh_parts_" + tag
      if (LayoutOps.latestVersion(s, lake) < 0) {
        val d = Tables.docs(s, dir).select(col("doc_id"), col("n_chars"))
        (0 until 3).foreach { k =>
          LayoutOps.commitAppend(d.where(col("doc_id") % 3 === k), lake)
          LayoutOps.lakeTail(s, lake, ckp) { (delta, _) =>
            SketchOps.hdrHistogram(delta, col("n_chars"), subBits = 4)
              .write.mode("append").parquet(parts)
          }
        }
      }
      s.read.parquet(parts)
        .groupBy("bucket_id", "lb", "ub").agg(sum("n").as("n"))
    }),

    // Spark-native HLL distinct sketches (Datasketches via
    // hll_sketch_agg): 3 disjoint partials union-merged; invariants —
    // merged estimate within 10% of the exact distinct count AND within
    // 2% of the direct single-pass estimate — asserted in the compared
    // output (binary sketches cannot hash-compare across engines).
    "sketch_hll_merge" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val partials = d
        .withColumn("part", pmod(col("doc_id"), lit(3)))
        .groupBy("part").agg(hll_sketch_agg(col("text")).as("sk"))
      val merged = partials
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("m_est"))
      val direct = d
        .agg(hll_sketch_estimate(hll_sketch_agg(col("text"))).as("d_est"))
      val exact = d.agg(countDistinct(col("text")).as("n_exact"))
      merged.crossJoin(direct).crossJoin(exact)
        .select(col("n_exact"),
          (abs(col("m_est").cast("double") - col("n_exact"))
            <= col("n_exact") * 0.10).as("merged_close_to_exact"),
          (abs(col("m_est").cast("double") - col("d_est"))
            <= col("d_est") * 0.02 + lit(1.0)).as("merged_close_to_direct"))
    })
  )

  def oracles: Map[String, String] = Map(
    // merged partials must equal the direct whole-corpus HDR table
    "sketch_hdr_merge" ->
      """SELECT (sh::BIGINT * 32 + (v >> sh)) AS bucket_id,
        |       ((v >> sh) << sh)::BIGINT AS lb,
        |       (((v >> sh) << sh) + ((1::BIGINT << sh) - 1))::BIGINT AS ub,
        |       count(*)::BIGINT AS n
        |FROM (
        |  SELECT v, greatest(0, length(bin(v)) - 1 - 4) AS sh
        |  FROM (SELECT n_chars::BIGINT AS v FROM documents))
        |GROUP BY 1, 2, 3""".stripMargin,

    "sketch_hll_merge" ->
      """SELECT count(DISTINCT text)::BIGINT AS n_exact,
        |  true AS merged_close_to_exact,
        |  true AS merged_close_to_direct
        |FROM documents""".stripMargin
  )
}
