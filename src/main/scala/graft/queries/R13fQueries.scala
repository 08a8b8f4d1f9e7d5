package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.MlOps

/** Round-13f queries: engine-reproducible logistic regression — the
  * gradient-descent iterations replayed BIT-EXACTLY by a generated-CTE
  * oracle (rational sigmoid, micro-unit integer gradients; the PageRank
  * unrolled-superstep discipline applied to iterative ML). */
object R13fQueries extends QuerySet {

  private val Iters = 3

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P(returned) from scaled quantity and discount; 3 full-batch GD
    // steps, eta = 1
    "ml_logreg" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      MlOps.logregGd(li,
        round(col("l_quantity")).cast("long") / lit(50.0),
        round(col("l_discount") * 1000).cast("long") / lit(100.0),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0),
        iters = Iters, eta = 1.0)
    })
  )

  /** The oracle unrolls the GD iterations as generated CTEs — every
    * arithmetic expression mirrors the Spark side token-for-token, so
    * the doubles agree bit-exactly at every step. */
  private def logregSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH li AS (
        |  SELECT CAST(round(l_quantity) AS BIGINT)/50.0 AS x1,
        |    CAST(round(l_discount*1000) AS BIGINT)/100.0 AS x2,
        |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
        |  FROM lineitem),
        |c0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)""".stripMargin)
    for (k <- 1 to iters) {
      val z = "(c.b0 + c.b1*x1 + c.b2*x2)"
      val p = s"(0.5 + $z/(2*(1+abs($z))))"
      sb.append(s""",
        |g$k AS (SELECT count(*) AS n,
        |  sum(CAST(floor(($p - y) * 1000000.0) AS BIGINT)) AS g0,
        |  sum(CAST(floor(($p - y) * x1 * 1000000.0) AS BIGINT)) AS g1,
        |  sum(CAST(floor(($p - y) * x2 * 1000000.0) AS BIGINT)) AS g2
        |  FROM li, c${k - 1} c),
        |c$k AS (SELECT c.b0 - (g.g0/1000000.0)/g.n AS b0,
        |  c.b1 - (g.g1/1000000.0)/g.n AS b1,
        |  c.b2 - (g.g2/1000000.0)/g.n AS b2
        |  FROM c${k - 1} c, g$k g)""".stripMargin)
    }
    sb.append(s"\nSELECT b0, b1, b2 FROM c$iters")
    sb.toString
  }

  def oracles: Map[String, String] = Map(
    "ml_logreg" -> logregSql(Iters)
  )
}
