package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.GraphOps

/** Round-13d queries: k-hop reachability census and the unpivot/melt
  * reshape surface. */
object R13dQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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

    // Within-session item co-occurrence: the co-visitation table at the
    // browsing-intent granularity (30-min gap sessions)
    "ev_item_session_cooc" -> ((s, dir) => {
      val item =
        nullif(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1), lit(""))
          .cast("int")
      graft.ops.EventOps.sessionItemCooc(Tables.events(s, dir), item,
        gapMs = 1800000L)
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

    // RFM segmentation of purchasers: exact quintiles via the
    // range-partitioned Ranker, (R, F, M) cell census
    "ev_rfm" -> ((s, dir) =>
      graft.ops.EventOps.rfmSegments(
        Tables.events(s, dir).where(col("event_type") === "purchase"),
        col("user_id"), col("ts"), col("value"))),

    // Wide→long reshape: the per-language documents census melted into
    // (lang, metric, value) rows with Spark's native unpivot
    "a1_unpivot" -> ((s, dir) => {
      val census = Tables.docs(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
      census.unpivot(Array(col("lang")),
        Array(col("n_docs").cast("long"), col("chars").cast("long")),
        "metric", "value")
    })
  )

  def oracles: Map[String, String] = Map(

    "graph_reach" ->
      """WITH ui AS (SELECT DISTINCT user_id AS u,
        |    json_extract_string(props, '$.k')::INT AS item
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |p AS (SELECT DISTINCT a.item AS a, b.item AS b
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item),
        |dir AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |r1 AS (SELECT DISTINCT a AS seed, b AS v FROM dir),
        |r2 AS (SELECT DISTINCT seed, v FROM (
        |    SELECT seed, v FROM r1
        |    UNION SELECT r1.seed, d.b AS v FROM r1 JOIN dir d ON r1.v = d.a)
        |  WHERE v <> seed),
        |r3 AS (SELECT DISTINCT seed, v FROM (
        |    SELECT seed, v FROM r2
        |    UNION SELECT r2.seed, d.b AS v FROM r2 JOIN dir d ON r2.v = d.a)
        |  WHERE v <> seed)
        |SELECT c1.seed::BIGINT AS seed, c1.n1, c2.n2, c3.n3
        |FROM (SELECT seed, count(*)::BIGINT AS n1 FROM r1 GROUP BY 1) c1
        |JOIN (SELECT seed, count(*)::BIGINT AS n2 FROM r2 GROUP BY 1) c2 USING (seed)
        |JOIN (SELECT seed, count(*)::BIGINT AS n3 FROM r3 GROUP BY 1) c3 USING (seed)
        |ORDER BY seed""".stripMargin,

    // the oracle replays the EXACT census and asserts every seed's sketch
    // estimate was within tolerance: n_within must equal n_seeds per hop
    "graph_reach_sketch" ->
      """WITH ui AS (SELECT DISTINCT user_id AS u,
        |    json_extract_string(props, '$.k')::INT AS item
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |p AS (SELECT DISTINCT a.item AS a, b.item AS b
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item),
        |dir AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |r1 AS (SELECT DISTINCT a AS seed, b AS v FROM dir),
        |r2 AS (SELECT DISTINCT seed, v FROM (
        |    SELECT seed, v FROM r1
        |    UNION SELECT r1.seed, d.b AS v FROM r1 JOIN dir d ON r1.v = d.a)
        |  WHERE v <> seed),
        |r3 AS (SELECT DISTINCT seed, v FROM (
        |    SELECT seed, v FROM r2
        |    UNION SELECT r2.seed, d.b AS v FROM r2 JOIN dir d ON r2.v = d.a)
        |  WHERE v <> seed),
        |s1 AS (SELECT seed FROM r1 GROUP BY 1),
        |s2 AS (SELECT seed FROM r2 GROUP BY 1),
        |s3 AS (SELECT seed FROM r3 GROUP BY 1)
        |SELECT 1 AS hop, count(*)::BIGINT AS n_seeds,
        |  count(*)::BIGINT AS n_within FROM s1
        |UNION ALL SELECT 2, count(*)::BIGINT, count(*)::BIGINT FROM s2
        |UNION ALL SELECT 3, count(*)::BIGINT, count(*)::BIGINT FROM s3""".stripMargin,

    "graph_degree_hist" ->
      """WITH ui AS (SELECT DISTINCT user_id AS u,
        |    json_extract_string(props, '$.k')::INT AS item
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e AS (SELECT DISTINCT a.item AS a, b.item AS b
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item),
        |deg AS (SELECT v, count(*)::BIGINT AS d
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY 1)
        |SELECT d, count(*)::BIGINT AS n_vertices FROM deg GROUP BY 1""".stripMargin,

    "ev_item_session_cooc" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |    json_extract_string(props, '$.k')::INT AS item
        |  FROM events),
        |s AS (
        |  SELECT *, CASE
        |    WHEN lag(ts_ms) OVER w IS NULL THEN 1
        |    WHEN ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1
        |    ELSE 0 END AS is_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |),
        |sid AS (
        |  SELECT *, sum(is_start) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM s),
        |si AS (SELECT DISTINCT user_id, session_id, item FROM sid
        |  WHERE item IS NOT NULL)
        |SELECT a.item AS i, b.item AS j, count(*)::BIGINT AS n_co
        |FROM si a JOIN si b ON a.user_id = b.user_id
        |  AND a.session_id = b.session_id AND a.item < b.item
        |GROUP BY 1, 2""".stripMargin,

    "graph_components" ->
      """WITH RECURSIVE ui AS (SELECT DISTINCT user_id AS u,
        |    json_extract_string(props, '$.k')::INT AS item
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |p AS (SELECT DISTINCT a.item AS a, b.item AS b
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item),
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

    "ev_rfm" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS vmi
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT user_id, max(us) AS last_us, count(*) AS f,
        |  sum(vmi) AS m FROM p GROUP BY 1),
        |ref AS (SELECT max(last_us) AS ref_us, count(*) AS n FROM u),
        |x AS (SELECT u.*, (ref.ref_us - u.last_us) // 86400000000 AS r_days,
        |  ref.n FROM u, ref),
        |rr AS (SELECT *,
        |  row_number() OVER (ORDER BY r_days ASC, user_id ASC) - 1 AS rk_r,
        |  row_number() OVER (ORDER BY f DESC, user_id ASC) - 1 AS rk_f,
        |  row_number() OVER (ORDER BY m DESC, user_id ASC) - 1 AS rk_m
        |  FROM x)
        |SELECT 1 + (5*rk_r)//n AS r_q, 1 + (5*rk_f)//n AS f_q,
        |  1 + (5*rk_m)//n AS m_q, count(*)::BIGINT AS n_users
        |FROM rr GROUP BY 1, 2, 3""".stripMargin,

    "a1_unpivot" ->
      """WITH census AS (
        |  SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |  FROM documents GROUP BY 1)
        |SELECT lang, 'n_docs' AS metric, n_docs AS value FROM census
        |UNION ALL
        |SELECT lang, 'chars' AS metric, chars AS value FROM census""".stripMargin
  )
}
