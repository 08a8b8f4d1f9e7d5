package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.SimilarityOps

/** Round-14 queries: the two-level (coarse→fine) centroid assignment —
  * the O(n·√k) answer to the corpus-proportional quantizer's flat-scan
  * cost — checked head-to-head against the flat assignment.
  *
  * Both assignments are fully deterministic (6-dp cosine, max-cos/min-id
  * tie-breaks), so the ORACLE replays the two paths and the agreement
  * count EXACTLY — no tolerance, a hash-equal gate. */
object R14Queries extends QuerySet {

  /** k = ⌈n/64⌉ floor 8 — same convention as R10Queries.ivfClusters. */
  private def kOf(n: Long): Long =
    math.max(8L, math.ceil(n / 64.0).toLong)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Flat O(n·k) vs two-level O(n·√k) assignment agreement census:
    // (n_vecs, n_agree).  probe=3 coarse cells per fine centroid (100% agreement at every tested scale; probe=2 is ~84% on the toy k=8/K1=3 corpus where routing has the least room).
    "sim_assign2_agree" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val k = kOf(e.count())
      val k1 = math.ceil(math.sqrt(k.toDouble)).toLong
      val cents = e.where(col("vec_id") < k)
      val coarse = e.where(col("vec_id") < k1)
      val flat = SimilarityOps.ivfAssign(e, col("embedding"), col("vec_id"),
        cents, col("embedding"), col("vec_id"))
        .select(col("vec_id"), col("centroid_id").as("c_flat"))
      val two = SimilarityOps.ivfAssignTwoLevel(e, col("embedding"),
        col("vec_id"), cents, col("embedding"), col("vec_id"), coarse,
        probe = 3)
        .select(col("vec_id"), col("centroid_id").as("c_two"))
      flat.join(two, "vec_id")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("c_flat") === col("c_two"), 1L).otherwise(0L))
            .as("n_agree"))
    })
  )

  // the cosine fold shared with R10Queries' AsgSql, to 6 dp
  private def cosSql(a: String, b: String): String =
    s"""round(
       |  list_reduce(list_transform(list_zip($a, $b),
       |    x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
       |  (sqrt(list_reduce(list_transform($a, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
       |   sqrt(list_reduce(list_transform($b, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
       |  6)""".stripMargin

  def oracles: Map[String, String] = Map(

    "sim_assign2_agree" ->
      s"""WITH
         |c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
         |  WHERE vec_id < greatest(8, ceil((SELECT count(*) FROM embeddings) / 64.0))),
         |g AS (SELECT vec_id AS coarse_id, embedding AS gv FROM embeddings
         |  WHERE vec_id < ceil(sqrt(greatest(8, ceil((SELECT count(*) FROM embeddings) / 64.0))))),
         |flat AS (
         |  SELECT vec_id, centroid_id AS c_flat FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |    FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |routes0 AS (
         |  SELECT coarse_id, centroid_id, cv FROM (
         |    SELECT c.centroid_id, c.cv, g.coarse_id,
         |      row_number() OVER (PARTITION BY c.centroid_id ORDER BY
         |        ${cosSql("c.cv", "g.gv")} DESC, g.coarse_id) AS rn
         |    FROM c CROSS JOIN g) WHERE rn <= 3),
         |routes AS (
         |  SELECT coarse_id, centroid_id, cv FROM routes0
         |  UNION
         |  SELECT coarse_id, coarse_id AS centroid_id, gv AS cv FROM g),
         |v2c AS (
         |  SELECT vec_id, coarse_id FROM (
         |    SELECT e.vec_id, g.coarse_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${cosSql("e.embedding", "g.gv")} DESC, g.coarse_id) AS rn
         |    FROM embeddings e CROSS JOIN g) WHERE rn = 1),
         |two AS (
         |  SELECT vec_id, centroid_id AS c_two FROM (
         |    SELECT e.vec_id, r.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${cosSql("e.embedding", "r.cv")} DESC, r.centroid_id) AS rn
         |    FROM embeddings e
         |    JOIN v2c ON v2c.vec_id = e.vec_id
         |    JOIN routes r ON r.coarse_id = v2c.coarse_id) WHERE rn = 1)
         |SELECT count(*)::BIGINT AS n_vecs,
         |  sum(CASE WHEN flat.c_flat = two.c_two THEN 1 ELSE 0 END)::BIGINT
         |    AS n_agree
         |FROM flat JOIN two USING (vec_id)""".stripMargin
  )
}
