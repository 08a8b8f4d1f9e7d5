package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.MlOps

/** Round-13h queries: fully distributed engine-reproducible Lloyd
  * k-means — the third iterative operator (after PageRank and the GD
  * logreg) whose exact trajectory replays in a generated-CTE oracle. */
object R13hQueries extends QuerySet {

  private val K = 4
  private val Iters = 2
  private val Dim = 64

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ml_kmeans_lloyd" -> ((s, dir) =>
      MlOps.kmeansLloyd(Tables.emb(s, dir), col("embedding"),
        col("vec_id"), k = K, iters = Iters)),

    // per-cluster within-SSE of the same fit — the elbow quantity, exact
    // to the micro-unit²
    "ml_kmeans_inertia" -> ((s, dir) =>
      MlOps.kmeansInertia(Tables.emb(s, dir), col("embedding"),
        col("vec_id"), k = K, iters = Iters))
  )

  /** One assignment + update block per iteration; every expression
    * mirrors the Spark side exactly (micro-unit ints, exact long
    * distances, lowest-cid ties, truncating integer division). */
  private def kmeansSql(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH iv AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS c
         |  FROM (SELECT vec_id, v FROM iv ORDER BY vec_id LIMIT $k))""".stripMargin)
    for (it <- 1 to iters) {
      sb.append(s""",
         |a$it AS (
         |  SELECT iv.vec_id, iv.v, c.cid,
         |    list_sum(list_transform(list_zip(iv.v, c.c),
         |      x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
         |  FROM iv, c${it - 1} c),
         |b$it AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d, cid) AS rn FROM a$it) WHERE rn = 1),
         |n$it AS (SELECT cid, count(*) AS n FROM b$it GROUP BY 1),
         |s$it AS (
         |  SELECT cid, r.j, sum(list_extract(v, CAST(r.j AS INT))) AS s
         |  FROM b$it, range(1, ${Dim + 1}) r(j) GROUP BY 1, 2),
         |c$it AS (
         |  SELECT s$it.cid, list(s$it.s // n$it.n ORDER BY s$it.j) AS c
         |  FROM s$it JOIN n$it USING (cid) GROUP BY s$it.cid)""".stripMargin)
    }
    sb.append(s"""
         |SELECT cid, -1 AS j, n::BIGINT AS val FROM n$iters
         |UNION ALL
         |SELECT cid, CAST(r.j AS INT) AS j,
         |  list_extract(c, CAST(r.j AS INT))::BIGINT AS val
         |FROM c$iters, range(1, ${Dim + 1}) r(j)""".stripMargin)
    sb.toString
  }

  /** The inertia oracle extends the fit's CTE chain with one more
    * assignment against the final centroids. */
  private def inertiaSql(k: Int, iters: Int): String = {
    val fit = kmeansSql(k, iters)
    val pre = fit.substring(0, fit.indexOf("\nSELECT cid, -1"))
    s"""$pre,
       |af AS (
       |  SELECT iv.vec_id,
       |    list_sum(list_transform(list_zip(iv.v, c.c),
       |      x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d, c.cid
       |  FROM iv, c$iters c),
       |bf AS (
       |  SELECT vec_id, cid, d FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d, cid) AS rn FROM af) WHERE rn = 1)
       |SELECT cid, count(*)::BIGINT AS n,
       |  sum(d::DECIMAL(38,0))::DOUBLE / 1e12 AS inertia
       |FROM bf GROUP BY 1""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "ml_kmeans_lloyd" -> kmeansSql(K, Iters),
    "ml_kmeans_inertia" -> inertiaSql(K, Iters)
  )
}
