package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EventOps, JoinOps}

/** Round-12y queries: join pre-flight census, Bloom-filter semi-join
  * pruning, and gap-filled linear interpolation.
  */
object R12yQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact join-output census WITHOUT running the join: the click×purchase
    // self-join's cardinality and worst per-key fan-out, computed from two
    // map-side-combinable per-key count tables — the pre-flight guard that
    // catches a many-to-many blow-up before a 100 TB join is launched.
    "join_size_census" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      JoinOps.joinSizeCensus(
        e.where(col("event_type") === "click"), col("user_id"),
        e.where(col("event_type") === "purchase"), col("user_id"))
    }),

    // Bloom-pruned fact⋈dim: lineitem rows are dropped BELOW the shuffle by
    // a bloom of the urgent orders' keys, then the exact join removes the
    // false positives — the result is bit-identical to the plain join
    // (monthly urgent revenue), with shuffle volume ∝ true selectivity.
    "join_bloom_prune" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      val pruned = JoinOps.bloomSemiPrune(l, col("l_orderkey"),
        o, col("o_orderkey"), expectedItems = 100000L)
      pruned.join(o.select(col("o_orderkey"), col("o_orderdate")),
          pruned("l_orderkey") === col("o_orderkey"))
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .as("ym"))
        .agg((sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * lit(1000000.0)).cast("long")).cast("double") / lit(1000000.0))
          .as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Dense hourly value series per event type with interior gaps filled by
    // exact linear interpolation (micro-unit fixed point, 6 dp).
    "ev_interpolate" -> ((s, dir) =>
      EventOps.interpolateHourly(Tables.events(s, dir),
        col("event_type"), col("ts"), col("value")))
  )

  def oracles: Map[String, String] = Map(

    "join_size_census" ->
      """WITH ca AS (SELECT user_id, count(*)::BIGINT AS ca FROM events
        |  WHERE event_type = 'click' GROUP BY 1),
        |cb AS (SELECT user_id, count(*)::BIGINT AS cb FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT count(*)::BIGINT AS n_keys,
        |  sum(ca * cb)::BIGINT AS join_rows,
        |  max(ca * cb)::BIGINT AS max_rows_per_key
        |FROM ca JOIN cb USING (user_id)""".stripMargin,

    // the oracle is the PLAIN join — the bloom prune is a superset filter
    // whose false positives the exact join removes, so results must match
    "join_bloom_prune" ->
      """SELECT (year(o_orderdate) * 100 + month(o_orderdate))::INT AS ym,
        |  sum(floor(l_extendedprice * (1 - l_discount) * 1000000.0)::BIGINT)::DOUBLE
        |    / 1000000.0 AS revenue,
        |  count(*)::BIGINT AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin,

    "ev_interpolate" ->
      """WITH h AS (SELECT event_type,
        |    (epoch_us(ts) // 3600000000)::BIGINT AS hr,
        |    sum(floor(value * 1000000.0)::BIGINT)::BIGINT AS vmic
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM h GROUP BY 1),
        |spine AS (SELECT event_type, unnest(generate_series(mn, mx)) AS hr FROM b),
        |j AS (SELECT s.event_type, s.hr, h.vmic FROM spine s
        |  LEFT JOIN h ON s.event_type = h.event_type AND s.hr = h.hr),
        |w AS (SELECT event_type, hr, vmic,
        |    last_value(vmic IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN vmic IS NOT NULL THEN hr END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY hr
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |    first_value(vmic IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY hr ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN vmic IS NOT NULL THEN hr END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY hr
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        |  FROM j)
        |SELECT event_type, hr, (vmic IS NULL) AS interpolated,
        |  round(CASE WHEN vmic IS NOT NULL THEN vmic::DOUBLE / 1000000.0
        |    ELSE pv::DOUBLE / 1000000.0 + ((nv - pv)::DOUBLE / 1000000.0)
        |      * ((hr - ph)::DOUBLE / (nh - ph)::DOUBLE) END, 6) AS val
        |FROM w""".stripMargin
  )
}
