package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.GraphOps

/** Round-12aj queries: integer PageRank over the item co-click graph. */
object R12ajQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Item centrality on the co-click graph (distinct co-engaged item
    // pairs), 10 integer supersteps — which catalog items sit at the
    // center of cross-engagement.
    "graph_pagerank" -> ((s, dir) => {
      val item =
        nullif(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1), lit(""))
          .cast("int")
      val ui = Tables.events(s, dir)
        .select(col("user_id").as("u"), item.as("item"))
        .where(col("item").isNotNull).distinct()
      val b = ui.select(col("u"), col("item").as("item_b"))
      val pairs = ui.join(b, ui("u") === b("u") && col("item") < col("item_b"))
        .select(col("item").as("src"), col("item_b").as("dst")).distinct()
      GraphOps.pageRank(pairs, col("src"), col("dst"), iters = 10)
    })
  )

  // The oracle unrolls the 10 supersteps as generated CTEs (aggregates
  // are not allowed in a recursive CTE's recursive term) — every step is
  // integer arithmetic, so the mirror is exact, not approximate.
  private val PageRankSql: String = {
    val prelude =
      """WITH ui AS (SELECT DISTINCT user_id AS u,
        |    json_extract_string(props, '$.k')::INT AS item
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |p AS (SELECT DISTINCT a.item AS src, b.item AS dst
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item),
        |edges AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
        |deg AS (SELECT src AS item, count(*)::BIGINT AS deg
        |  FROM edges GROUP BY 1),
        |nodes AS (SELECT item FROM deg),
        |iv AS (SELECT (1000000000000 // count(*))::BIGINT AS init FROM nodes),
        |r0 AS (SELECT item, init AS r FROM nodes CROSS JOIN iv)""".stripMargin
    val steps = (1 to 10).map { k =>
      s"""c$k AS (SELECT e.dst AS item, sum(r.r // d.deg)::BIGINT AS s
         |  FROM edges e JOIN r${k - 1} r ON r.item = e.src
         |  JOIN deg d ON d.item = e.src GROUP BY 1),
         |r$k AS (SELECT n.item,
         |    ((15 * iv.init + 85 * coalesce(c.s, 0)) // 100)::BIGINT AS r
         |  FROM nodes n CROSS JOIN iv LEFT JOIN c$k c USING (item))"""
        .stripMargin
    }
    (prelude +: steps).mkString(",\n") + "\nSELECT item, r FROM r10"
  }

  def oracles: Map[String, String] = Map("graph_pagerank" -> PageRankSql)
}
