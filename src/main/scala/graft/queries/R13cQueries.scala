package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.GraphOps

/** Round-13c queries: triangle census on the co-engagement graph, ridge
  * regression by exact normal equations, and the dialect-neutral SQL
  * entry path (ONE SQL string executed by both spark.sql and the DuckDB
  * oracle).
  */
object R13cQueries extends QuerySet {

  /** Shared SQL for the spark.sql-surface query — parses identically in
    * Spark SQL and DuckDB, so the engine runs the very string the oracle
    * replays. */
  private val Q6SqlShared: String =
    """SELECT CAST(sum(CAST(CAST(round(l_extendedprice*100) AS BIGINT) *
      |  CAST(round(l_discount*1000) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE)
      |  / 1e5 AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Shared Cramer-rule arithmetic for ml_ridge — evaluated by BOTH
    * engines over identically-named exact sums, so the double expression
    * trees are the same and the results bit-match.  Inputs: n, s1, s2,
    * a22, a33, a23, sy, s1y, s2y (doubles; a22/a33 carry the ridge). */
  private val RidgeExprs = Seq(
    "round((sy*(a22*a33 - a23*a23) - s1*(s1y*a33 - a23*s2y) + s2*(s1y*a23 - a22*s2y)) / (n*(a22*a33 - a23*a23) - s1*(s1*a33 - a23*s2) + s2*(s1*a23 - a22*s2)), 6) AS b0",
    "round((n*(s1y*a33 - a23*s2y) - sy*(s1*a33 - a23*s2) + s2*(s1*s2y - s1y*s2)) / (n*(a22*a33 - a23*a23) - s1*(s1*a33 - a23*s2) + s2*(s1*a23 - a22*s2)), 6) AS b1",
    "round((n*(a22*s2y - s1y*a23) - s1*(s1*s2y - s1y*s2) + sy*(s1*a23 - a22*s2)) / (n*(a22*a33 - a23*a23) - s1*(s1*a33 - a23*s2) + s2*(s1*a23 - a22*s2)), 6) AS b2")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Triangle census of the co-engaged item graph: closed triangles,
    // wedges, global clustering coefficient — two self-joins on the
    // ordered edge list, degree-bounded fan-out
    "graph_triangles" -> ((s, dir) =>
      // reads the tier-shared bucketed co-engagement layout (Tables
      // .coEdges) — derived once per session, scanned by every graph query
      GraphOps.triangleCensus(Tables.coEdges(s, dir),
        col("src"), col("dst"))),

    // Ridge regression (normal equations) predicting line revenue from
    // quantity and discount: ONE pass of exact integer sufficient
    // statistics, then the Cramer solve over a broadcast single row —
    // the same shared expression strings the oracle evaluates
    "ml_ridge" -> ((s, dir) => {
      val lam = 1000.0
      val li = s.read.parquet(s"$dir/lineitem.parquet").select(
        round(col("l_quantity")).cast("long").as("x1"),
        round(col("l_discount") * 1000).cast("long").as("x2"),
        round(col("l_extendedprice") * 100).cast("long").as("yc"))
      val sums = li.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x1").cast("decimal(38,0)")).cast("double").as("s1"),
        sum(col("x2").cast("decimal(38,0)")).cast("double").as("s2"),
        sum((col("x1") * col("x1")).cast("decimal(38,0)")).cast("double").as("s11"),
        sum((col("x1") * col("x2")).cast("decimal(38,0)")).cast("double").as("a23"),
        sum((col("x2") * col("x2")).cast("decimal(38,0)")).cast("double").as("s22"),
        sum(col("yc").cast("decimal(38,0)")).cast("double").as("sy"),
        sum((col("x1") * col("yc")).cast("decimal(38,0)")).cast("double").as("s1y"),
        sum((col("x2") * col("yc")).cast("decimal(38,0)")).cast("double").as("s2y"))
        .withColumn("a22", col("s11") + lam)
        .withColumn("a33", col("s22") + lam)
      sums.selectExpr(RidgeExprs: _*)
    }),

    // Pure-SQL surface: the engine executes the SAME dialect-neutral SQL
    // string the oracle replays — spark.sql over a temp view
    "tpch_q6_sql" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .createOrReplaceTempView("lineitem")
      s.sql(Q6SqlShared)
    })
  )

  def oracles: Map[String, String] = Map(

    "graph_triangles" ->
      """WITH ui AS (SELECT DISTINCT user_id AS u,
        |    json_extract_string(props, '$.k')::INT AS item
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e AS (SELECT DISTINCT a.item AS a, b.item AS b
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item),
        |tri AS (SELECT count(*)::BIGINT AS n_triangles
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |deg AS (SELECT v, count(*) AS d
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY 1),
        |w AS (SELECT CAST(sum(d*(d-1)/2) AS BIGINT) AS n_wedges FROM deg)
        |SELECT n_triangles, n_wedges,
        |  CASE WHEN n_wedges = 0 THEN 0.0
        |       ELSE round(3.0 * n_triangles / n_wedges, 9) END AS clustering
        |FROM tri, w""".stripMargin,

    "ml_ridge" -> {
      """WITH li AS (
        |  SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
        |    CAST(round(l_discount*1000) AS BIGINT) AS x2,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS yc
        |  FROM lineitem),
        |sums AS (
        |  SELECT count(*)::DOUBLE AS n,
        |    sum(x1)::DOUBLE AS s1, sum(x2)::DOUBLE AS s2,
        |    sum(x1*x1)::DOUBLE + 1000.0 AS a22,
        |    sum(x1*x2)::DOUBLE AS a23,
        |    sum(x2*x2)::DOUBLE + 1000.0 AS a33,
        |    sum(yc)::DOUBLE AS sy,
        |    sum(x1*yc)::DOUBLE AS s1y, sum(x2*yc)::DOUBLE AS s2y
        |  FROM li)
        |SELECT """.stripMargin + RidgeExprs.mkString(",\n  ") + "\nFROM sums"
    },

    "tpch_q6_sql" -> Q6SqlShared
  )
}
