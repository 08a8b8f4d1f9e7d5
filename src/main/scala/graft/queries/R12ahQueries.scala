package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.PiiOps

/** Round-12ah queries: differentially-private count release. */
object R12ahQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-language counts with Laplace(1/ε) noise, ε = 0.5 — the census a
    // pipeline can publish outside the data boundary.  Seeded noise for
    // oracle reproducibility (production draws fresh randomness).
    "a1_dp_counts" -> ((s, dir) =>
      PiiOps.dpNoisyCounts(Tables.docs(s, dir), col("lang"),
        epsilon = 0.5, seed = 42L))
  )

  def oracles: Map[String, String] = Map(

    "a1_dp_counts" ->
      """WITH c AS (SELECT lang AS grp, count(*)::BIGINT AS n
        |  FROM documents GROUP BY 1),
        |x AS (SELECT grp, n,
        |    (('0x' || substr(md5(concat_ws(':', 'dp', '42', (grp)::VARCHAR)),
        |      1, 8))::BIGINT / 4294967296.0) - 0.5 AS v
        |  FROM c)
        |SELECT grp,
        |  round(n + (-2.0) * sign(v) * ln(1.0 - 2.0 * abs(v)), 6) AS noisy_n
        |FROM x""".stripMargin
  )
}
