package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{SimilarityOps, SketchOps, TextOps}

/** Round-16f: the sketch tier grows per-group quantiles (keyed windows —
  * the per-language length dashboard) and drives a real gate
  * (p5/p95 length clipping, the outlier-trim every corpus pipeline
  * runs); retrieval grows 3-way RRF (lexical ⊕ exact-dense ⊕ LSH).
  * All integer/6-dp arithmetic — hash-exact oracles throughout. */
object R16fQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // per-language p50/p90/p100 of document length: bucket tables keyed
    // by group, cumulative scan windowed BY GROUP (never global)
    "sketch_hdr_by_lang" -> ((s, dir) =>
      SketchOps.hdrQuantilesBy(Tables.docs(s, dir), col("lang"),
        col("n_chars"), subBits = 4,
        quantiles = Seq((1, 2), (9, 10), (1, 1)))),

    // the per-group HISTOGRAM itself (not just its quantiles) — the
    // dashboard primitive: one shuffle whose payload is the (group ×
    // bucket) grid, corpus-size-independent.  hdrHistogramBy was
    // previously reachable only through hdrQuantilesBy (r16 verdict #7)
    "sketch_hdr_hist_by_lang" -> ((s, dir) =>
      SketchOps.hdrHistogramBy(Tables.docs(s, dir), col("lang"),
        col("n_chars"), subBits = 4)),

    // sketch-driven gate: clip docs outside the [p5 bucket lb, p95
    // bucket ub] length band — the trim-the-tails step, with the bounds
    // COMPUTED by the quantile sketch inside the same plan (broadcast
    // 1-row bounds, no driver round trip)
    "pipeline_length_clip" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val qs = SketchOps.hdrQuantiles(d, col("n_chars"), subBits = 4,
        quantiles = Seq((1, 20), (19, 20)))
      val bounds = qs.agg(
        min(when(col("q") === 0.05, col("est_lb"))).as("lo"),
        max(when(col("q") === 0.95, col("est_ub"))).as("hi"))
      d.crossJoin(broadcast(bounds))
        .where(col("n_chars").between(col("lo"), col("hi")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
    }),

    // 3-way hybrid: lexical overlap ⊕ exact dense ⊕ LSH-approximate,
    // RRF-fused per query — the production ensemble shape (each list
    // keyed, |lists|−1 outer joins, no global stage)
    "sim_hybrid3_topk" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val lex = TextOps.tokenOverlapTopK(d, col("doc_id"), col("text"),
        d.where(col("doc_id") < 5), col("doc_id"), col("text"), k = 10)
      val e = Tables.emb(s, dir)
      val dense = SimilarityOps.bruteTopK(e, col("embedding"),
        col("vec_id"), e.where(col("vec_id") < 5), col("embedding"),
        col("vec_id"), k = 10)
      val approx = SimilarityOps.lshTopK(e, col("embedding"),
        col("vec_id"), dims = 64, planes = 8, seed = 42L, k = 10)
        .where(col("query_id") < 5)
      SimilarityOps.rrfFuseMany(Seq(lex, dense, approx), k = 10)
    })
  )

  private val GroupedBuckets =
    """SELECT grp, (sh::BIGINT * 32 + (v >> sh)) AS bucket_id,
      |       ((v >> sh) << sh)::BIGINT AS lb,
      |       (((v >> sh) << sh) + ((1::BIGINT << sh) - 1))::BIGINT AS ub,
      |       count(*)::BIGINT AS n
      |FROM (
      |  SELECT lang AS grp, n_chars::BIGINT AS v,
      |    greatest(0, length(bin(n_chars::BIGINT)) - 1 - 4) AS sh
      |  FROM documents)
      |GROUP BY 1, 2, 3, 4""".stripMargin

  private val FlatQuantiles =
    """h AS (
      |  SELECT (sh::BIGINT * 32 + (v >> sh)) AS bucket_id,
      |    ((v >> sh) << sh)::BIGINT AS lb,
      |    (((v >> sh) << sh) + ((1::BIGINT << sh) - 1))::BIGINT AS ub,
      |    count(*)::BIGINT AS n
      |  FROM (SELECT n_chars::BIGINT AS v,
      |      greatest(0, length(bin(n_chars::BIGINT)) - 1 - 4) AS sh
      |    FROM documents)
      |  GROUP BY 1, 2, 3),
      |c AS (SELECT bucket_id, lb, ub,
      |    sum(n) OVER (ORDER BY bucket_id) AS cum FROM h),
      |t AS (SELECT sum(n)::BIGINT AS n_total FROM h),
      |q AS (SELECT * FROM (VALUES (1, 20), (19, 20)) AS v(q_num, q_den)),
      |r AS (SELECT q_num, q_den,
      |    (q_num::BIGINT * n_total + q_den - 1) // q_den AS rank
      |  FROM q, t),
      |est AS (
      |  SELECT round(r.q_num::DOUBLE / r.q_den, 6) AS q,
      |    min(c.lb)::BIGINT AS est_lb, min(c.ub)::BIGINT AS est_ub
      |  FROM r JOIN c ON c.cum >= r.rank
      |  GROUP BY 1),
      |bounds AS (
      |  SELECT min(CASE WHEN q = 0.05 THEN est_lb END) AS lo,
      |         max(CASE WHEN q = 0.95 THEN est_ub END) AS hi
      |  FROM est)""".stripMargin

  def oracles: Map[String, String] = Map(

    "sketch_hdr_hist_by_lang" -> GroupedBuckets,

    "sketch_hdr_by_lang" ->
      s"""WITH g AS ($GroupedBuckets),
         |c AS (SELECT grp, bucket_id, lb, ub,
         |    sum(n) OVER (PARTITION BY grp ORDER BY bucket_id) AS cum
         |  FROM g),
         |t AS (SELECT grp, sum(n)::BIGINT AS n_total FROM g GROUP BY 1),
         |q AS (SELECT * FROM (VALUES (1, 2), (9, 10), (1, 1))
         |  AS v(q_num, q_den)),
         |r AS (SELECT grp, q_num, q_den,
         |    (q_num::BIGINT * n_total + q_den - 1) // q_den AS rank,
         |    n_total
         |  FROM t, q)
         |SELECT r.grp AS "group",
         |  round(r.q_num::DOUBLE / r.q_den, 6) AS q, r.rank, r.n_total,
         |  min(c.lb)::BIGINT AS est_lb, min(c.ub)::BIGINT AS est_ub
         |FROM r JOIN c ON c.grp = r.grp AND c.cum >= r.rank
         |GROUP BY 1, 2, 3, 4""".stripMargin,

    "pipeline_length_clip" ->
      s"""WITH $FlatQuantiles
         |SELECT lang, count(*)::BIGINT AS n_kept,
         |  min(n_chars)::BIGINT AS min_chars,
         |  max(n_chars)::BIGINT AS max_chars
         |FROM documents, bounds
         |WHERE n_chars BETWEEN lo AND hi
         |GROUP BY lang""".stripMargin,

    // 3-way fusion: the two-list fragments from R16Queries extended by
    // one more full outer; sum order fixed left-assoc ((lex+dense)+lsh)
    "sim_hybrid3_topk" ->
      s"""${R16Queries.OverlapTopkSql},
         |${R16Queries.BruteTopkSql},
         |${R16Queries.LshTopkSql},
         |f0 AS (
         |  SELECT coalesce(a.query_id, b.query_id) AS query_id,
         |    coalesce(a.neighbor_id, b.neighbor_id) AS neighbor_id,
         |    a.rank AS r0, b.rank AS r1
         |  FROM (SELECT * FROM lexr WHERE rank < 10) a
         |  FULL OUTER JOIN (SELECT * FROM br WHERE rank < 10) b
         |    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
         |f1 AS (
         |  SELECT coalesce(f0.query_id, c3.query_id) AS query_id,
         |    coalesce(f0.neighbor_id, c3.neighbor_id) AS neighbor_id,
         |    f0.r0, f0.r1, c3.rank AS r2
         |  FROM f0 FULL OUTER JOIN (SELECT * FROM lr WHERE rank < 10) c3
         |    ON f0.query_id = c3.query_id
         |   AND f0.neighbor_id = c3.neighbor_id),
         |f AS (
         |  SELECT query_id, neighbor_id,
         |    round(coalesce(1.0 / (60 + r0 + 1), 0.0) +
         |          coalesce(1.0 / (60 + r1 + 1), 0.0) +
         |          coalesce(1.0 / (60 + r2 + 1), 0.0), 6) AS fused
         |  FROM f1),
         |fr AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY fused DESC, neighbor_id) - 1 AS fused_rank
         |  FROM f)
         |SELECT query_id, neighbor_id, fused, fused_rank
         |FROM fr WHERE fused_rank < 10""".stripMargin
  )
}
