package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EmbedOps, EventOps}

/** Round-12ab queries: exact Gram sufficient statistics, OLS trend slope,
  * and distribution-shape moments.
  */
object R12abQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PCA's sufficient statistics as an all-integer long-format table: one
    // GramAgg pass reduces the corpus to 1 + d + d(d+1)/2 longs — nothing
    // float crosses the compare, nothing row-sized crosses the network.
    "emb_gram" -> ((s, dir) =>
      EmbedOps.gramTable(Tables.emb(s, dir), col("embedding"), d = 64)),

    // Per-type OLS trend of hourly activity: slope/intercept from exact
    // integer sums over group-rebased hour indexes, one double division.
    "ev_trend_slope" -> ((s, dir) =>
      EventOps.trendSlope(Tables.events(s, dir), col("event_type"),
        col("ts"))),

    // Per-type skewness / excess kurtosis from decimal(38,0) power sums —
    // the distribution-shape card behind outlier-gate tuning.
    "ev_value_moments" -> ((s, dir) =>
      EventOps.valueMoments(Tables.events(s, dir), col("event_type"),
        col("value")))
  )

  def oracles: Map[String, String] = Map(

    "emb_gram" ->
      """WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    unnest(embedding)::DOUBLE AS v FROM embeddings),
        |q AS (SELECT a.i::INT AS i, b.i::INT AS j,
        |    sum(floor(a.v * b.v * 1000000000000.0)::BIGINT)::BIGINT AS q
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY 1, 2),
        |s AS (SELECT 0::INT AS i, i::INT AS j,
        |    sum(floor(v * 1000000000.0)::BIGINT)::BIGINT AS q
        |  FROM x GROUP BY 2),
        |n AS (SELECT 0::INT AS i, 0::INT AS j, count(*)::BIGINT AS q
        |  FROM embeddings)
        |SELECT i, j, q FROM q
        |UNION ALL SELECT i, j, q FROM s
        |UNION ALL SELECT i, j, q FROM n""".stripMargin,

    "ev_trend_slope" ->
      """WITH h AS (SELECT event_type,
        |    (epoch_us(ts) // 3600000000)::BIGINT AS hr, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, min(hr) AS mn FROM h GROUP BY 1),
        |s AS (SELECT h.event_type, count(*)::BIGINT AS n,
        |    sum(hr - mn)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum((hr - mn) * (hr - mn))::BIGINT AS sxx,
        |    sum((hr - mn) * y)::BIGINT AS sxy
        |  FROM h JOIN m USING (event_type) GROUP BY 1)
        |SELECT event_type, n,
        |  (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE AS slope,
        |  (sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
        |      / (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE) / n::DOUBLE
        |    AS intercept
        |FROM s""".stripMargin,

    // the moment arithmetic mirrors the Spark expression tree operand for
    // operand (left-assoc products, sqrt not pow) — see valueMoments
    "ev_value_moments" ->
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
        |sums AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(vm)::BIGINT AS s1,
        |    sum(vm::HUGEINT * vm) AS s2,
        |    sum(vm::HUGEINT * vm * vm) AS s3,
        |    sum(vm::HUGEINT * vm * vm * vm) AS s4
        |  FROM b GROUP BY 1),
        |d AS (SELECT event_type, n, n::DOUBLE AS nd,
        |    s1::DOUBLE / n::DOUBLE AS mean,
        |    s2::DOUBLE AS s2d, s3::DOUBLE AS s3d, s4::DOUBLE AS s4d
        |  FROM sums),
        |mom AS (SELECT event_type, n, mean,
        |    s2d / nd - mean * mean AS m2,
        |    s3d / nd - 3.0 * mean * (s2d / nd)
        |      + 2.0 * mean * mean * mean AS m3,
        |    s4d / nd - 4.0 * mean * (s3d / nd)
        |      + 6.0 * mean * mean * (s2d / nd)
        |      - 3.0 * mean * mean * mean * mean AS m4
        |  FROM d)
        |SELECT event_type, n, round(mean / 1000.0, 6) AS mean,
        |  round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
        |  round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
        |FROM mom""".stripMargin
  )
}
