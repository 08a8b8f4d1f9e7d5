package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.GraphOps

/** Graph algorithms over the co-engagement item graph and the near-dup
  * pair graph: reach, degrees, components, triangles, PageRank, k-core.
  * Names: `graph`. */
object GraphQueries extends QuerySet {

  /** Oracle CTE: `ui(u, item)`, the distinct (user, item) pairs of the
    * events that carry an item. */
  private[queries] val UserItemCte =
    """ui AS (SELECT DISTINCT user_id AS u,
      |    json_extract_string(props, '$.k')::INT AS item
      |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL)""".stripMargin

  /** Oracle CTE body: [[UserItemCte]] and `edges(a, b)`, the item pairs a
    * < b that one user touched — the co-item graph. */
  private def coItemCte(edges: String): String =
    s"""$UserItemCte,
       |$edges AS (SELECT DISTINCT a.item AS a, b.item AS b
       |  FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item)""".stripMargin

  /** Oracle CTE body over the co-item edges `p`: `dir`, both directions,
    * and `r1`..`r3(seed, v)`, the vertices within 1, 2 and 3 hops of each
    * seed (the seed itself excluded). */
  private val ReachHopsCte =
    """dir AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
      |r1 AS (SELECT DISTINCT a AS seed, b AS v FROM dir),
      |r2 AS (SELECT DISTINCT seed, v FROM (
      |    SELECT seed, v FROM r1
      |    UNION SELECT r1.seed, d.b AS v FROM r1 JOIN dir d ON r1.v = d.a)
      |  WHERE v <> seed),
      |r3 AS (SELECT DISTINCT seed, v FROM (
      |    SELECT seed, v FROM r2
      |    UNION SELECT r2.seed, d.b AS v FROM r2 JOIN dir d ON r2.v = d.a)
      |  WHERE v <> seed)""".stripMargin

  // The oracle unrolls the 10 supersteps as generated CTEs (aggregates
  // are not allowed in a recursive CTE's recursive term) — every step is
  // integer arithmetic, so the mirror is exact, not approximate.
  private val PageRankSql: String = {
    val prelude =
      s"""WITH $UserItemCte,
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

  private val MaxRounds = 16

  private val K = 2

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
    }),

    // Triangle census of the co-engaged item graph: closed triangles,
    // wedges, global clustering coefficient — two self-joins on the
    // ordered edge list, degree-bounded fan-out
    "graph_triangles" -> ((s, dir) =>
      // reads the tier-shared bucketed co-engagement layout (Tables
      // .coEdges) — derived once per session, scanned by every graph query
      GraphOps.triangleCensus(Tables.coEdges(s, dir),
        col("src"), col("dst"))),

    // Audience-expansion radius: per item, the ≤1/≤2/≤3-hop neighborhood
    // sizes on the co-engaged item graph — BFS-by-joins, one join +
    // distinct per hop.
    // Registered EXACT so the oracle (an exact SQL BFS replay) stays
    // meaningful at every scale: a size-gated registration would silently
    // swap to an HLL estimate right where the gate matters, diverging
    // from the unchanged oracle.  The production 100×-scale API is
    // [[GraphOps.kHopReachAuto]] (exact under maxExactEdges, bounded-
    // state sketch beyond — an ESTIMATE, documented as such); its sketch
    // side's accuracy gate is `graph_reach_sketch` below, which IS
    // scale-aware (per-seed 15%/±2 tolerance vs exact).
    "graph_reach" -> ((s, dir) =>
      GraphOps.kHopReach(Tables.coEdges(s, dir), col("src"), col("dst"),
        hops = 3)),

    // The bounded-state HyperANF path checked AGAINST the exact census:
    // per hop, the number of seeds and the number whose HLL estimate is
    // within 15% (or ±2) of the exact count — the oracle asserts
    // n_within == n_seeds, so any sketch drift beyond tolerance fails the
    // gate.  This is the 100×-scale path for graph_reach (state is
    // O(V · 2^lgK) bytes vs the exact path's O(Σ|N_k(v)|) rows).
    "graph_reach_sketch" -> ((s, dir) => {
      val edges = Tables.coEdges(s, dir)
      val exact = GraphOps.kHopReach(edges, col("src"), col("dst"), hops = 3)
      val sk = GraphOps.kHopReachSketch(edges, col("src"), col("dst"),
        hops = 3)
      val j = exact.alias("e").join(sk.alias("a"), "seed")
      // ONE aggregate over the exact⋈sketch join produces all three hop
      // rows (count + 3 conditional sums, exploded long-form) — the old
      // per-hop agg re-ran the join and both census tails 3× (values
      // identical: same predicate per hop, same count)
      def within(k: Int) = {
        val e = col(s"e.n$k"); val a = col(s"a.n$k")
        sum(when(abs(a - e) <= greatest(lit(2.0), e * 0.15), 1L)
          .otherwise(0L))
      }
      j.agg(count(lit(1)).as("n_seeds"), within(1).as("__w1"),
          within(2).as("__w2"), within(3).as("__w3"))
        .select(explode(array((1 to 3).map { k =>
          struct(lit(k).as("hop"), col("n_seeds"),
            col(s"__w$k").as("n_within"))
        }: _*)).as("r"))
        .select(col("r.hop"), col("r.n_seeds"), col("r.n_within"))
    }),

    // Degree distribution of the co-engaged item graph — the standard
    // "is this graph hub-skewed" card (and the gauge for when triangle
    // counting needs the compact-forward orientation)
    "graph_degree_hist" -> ((s, dir) => {
      val e = Tables.coEdges(s, dir)
      e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .groupBy("d").agg(count(lit(1)).as("n_vertices"))
    }),

    // Connected components of the co-engaged item graph (dedupClusters'
    // dual-path min-label machinery) → component-size histogram — the
    // "is the catalog one giant blob or many islands" card
    "graph_components" -> ((s, dir) => {
      val pairs = Tables.coEdges(s, dir)
        .select(col("src").as("doc_a"), col("dst").as("doc_b"))
      graft.ops.DedupOps.dedupClusters(pairs)
        .groupBy("keeper_id").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("component_size"))
        .agg(count(lit(1)).as("n_components"))
    }),

    "graph_lpa" -> ((s, dir) =>
      GraphOps.labelPropagation(Tables.coEdges(s, dir),
        col("src"), col("dst"), iters = 2)),

    "graph_kcore" -> ((s, dir) =>
      GraphOps.kCore(Tables.nearDupPairs(s, dir), col("doc_a"),
        col("doc_b"), K, maxRounds = MaxRounds))
  )

  def oracles: Map[String, String] = Map(

    "graph_pagerank" -> PageRankSql,

    "graph_triangles" ->
      s"""WITH ${coItemCte("e")},
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

    "graph_reach" ->
      s"""WITH ${coItemCte("p")},
        |$ReachHopsCte
        |SELECT c1.seed::BIGINT AS seed, c1.n1, c2.n2, c3.n3
        |FROM (SELECT seed, count(*)::BIGINT AS n1 FROM r1 GROUP BY 1) c1
        |JOIN (SELECT seed, count(*)::BIGINT AS n2 FROM r2 GROUP BY 1) c2 USING (seed)
        |JOIN (SELECT seed, count(*)::BIGINT AS n3 FROM r3 GROUP BY 1) c3 USING (seed)
        |ORDER BY seed""".stripMargin,

    // the oracle replays the EXACT census and asserts every seed's sketch
    // estimate was within tolerance: n_within must equal n_seeds per hop
    "graph_reach_sketch" ->
      s"""WITH ${coItemCte("p")},
        |$ReachHopsCte,
        |s1 AS (SELECT seed FROM r1 GROUP BY 1),
        |s2 AS (SELECT seed FROM r2 GROUP BY 1),
        |s3 AS (SELECT seed FROM r3 GROUP BY 1)
        |SELECT 1 AS hop, count(*)::BIGINT AS n_seeds,
        |  count(*)::BIGINT AS n_within FROM s1
        |UNION ALL SELECT 2, count(*)::BIGINT, count(*)::BIGINT FROM s2
        |UNION ALL SELECT 3, count(*)::BIGINT, count(*)::BIGINT FROM s3""".stripMargin,

    "graph_degree_hist" ->
      s"""WITH ${coItemCte("e")},
        |deg AS (SELECT v, count(*)::BIGINT AS d
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY 1)
        |SELECT d, count(*)::BIGINT AS n_vertices FROM deg GROUP BY 1""".stripMargin,

    "graph_components" ->
      s"""WITH RECURSIVE ${coItemCte("p")},
        |e AS (SELECT a, b AS bb FROM p UNION ALL SELECT b, a FROM p),
        |n AS (SELECT DISTINCT a AS node FROM e),
        |reach(node, r) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.bb
        |),
        |comp AS (SELECT node, min(r) AS keeper FROM reach GROUP BY node),
        |sizes AS (SELECT keeper, count(*) AS sz FROM comp GROUP BY 1)
        |SELECT sz::BIGINT AS component_size, count(*)::BIGINT AS n_components
        |FROM sizes GROUP BY 1""".stripMargin,

    "graph_lpa" ->
      s"""WITH ${coItemCte("e0")},
        |und AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
        |l0 AS (SELECT DISTINCT a AS v, a::BIGINT AS label FROM und),
        |c1 AS (SELECT u.a, l.label, count(*) AS cnt
        |  FROM und u JOIN l0 l ON l.v = u.b GROUP BY 1, 2),
        |l1 AS (SELECT a AS v, label FROM (
        |  SELECT a, label, row_number() OVER (PARTITION BY a
        |    ORDER BY cnt DESC, label ASC) AS rn FROM c1) WHERE rn = 1),
        |c2 AS (SELECT u.a, l.label, count(*) AS cnt
        |  FROM und u JOIN l1 l ON l.v = u.b GROUP BY 1, 2),
        |l2 AS (SELECT a AS v, label FROM (
        |  SELECT a, label, row_number() OVER (PARTITION BY a
        |    ORDER BY cnt DESC, label ASC) AS rn FROM c2) WHERE rn = 1)
        |SELECT v::BIGINT AS v, label FROM l2""".stripMargin,

    "graph_kcore" -> {
      // every e_i is referenced 3× by round i+1: AS MATERIALIZED stops
      // DuckDB from inlining the chain (3^16 expansions otherwise)
      val rounds = (1 to MaxRounds).map { i =>
        s"""k$i AS MATERIALIZED (SELECT a FROM e${i - 1} GROUP BY a
           |  HAVING count(*) >= (SELECT kk FROM kv)),
           |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
           |  JOIN k$i x ON e.a = x.a JOIN k$i y ON e.b = y.a)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${MediaQueries.RealAHash64Sql},
         |p AS MATERIALIZED (
         |  SELECT x.doc_id AS da, y.doc_id AS db
         |  FROM a x JOIN a y ON x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.ahash, y.ahash)) <= 3),
         |kv AS MATERIALIZED (SELECT $K AS kk),
         |e0 AS MATERIALIZED (SELECT da AS a, db AS b FROM p
         |       UNION SELECT db, da FROM p),
         |$rounds
         |SELECT a AS v, count(*)::BIGINT AS degree
         |FROM e$MaxRounds GROUP BY 1""".stripMargin
    }
  )
}
