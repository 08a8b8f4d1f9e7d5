package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.EventOps

/** Round-12au queries: entropy rate of the event stream. */
object R12auQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Information-theoretic predictability: H(next | current) under the
    // first-order model, Σ p(s)·H(·|s) — the entropy-rate companion to
    // the modal-accuracy backtest (low rate = exploitable structure).
    // Each -p·ln(p) term is nano-floored to a long BEFORE summation, so
    // the result is partition/order-immune and engine-exact; the |types|²
    // table is the only input.
    "ev_entropy_rate" -> ((s, dir) => {
      val m = EventOps.transitionMatrix(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .persist()
      graft.core.CacheScope.register(m)
      // term per (s, t): floor( (n_st/n_s)·ln(n_s/n_st) · w_s · 1e9 )
      // with w_s = n_s/N — all ratios from exact integers, fixed order
      val perFrom = m.groupBy("from_type").agg(sum("n").as("ns"))
      // the grand total derives from the TYPES-bounded per-from table —
      // no second pass over the corpus-sized transition build
      val tot = perFrom.agg(sum("ns").as("total"))
      m.select(col("from_type"), col("to_type"), col("n"))
        .join(broadcast(perFrom), "from_type")
        .crossJoin(broadcast(tot))
        .select(floor(
          (col("n").cast("double") / col("ns").cast("double")) *
            log(col("ns").cast("double") / col("n").cast("double")) *
            (col("ns").cast("double") / col("total").cast("double")) *
            lit(1e9)).cast("long").as("term"))
        .agg((sum("term").cast("double") / lit(1e9)).as("h"))
        .select(round(col("h"), 6).as("entropy_rate_nats"))
    })
  )

  def oracles: Map[String, String] = Map(

    "ev_entropy_rate" ->
      """WITH s AS (SELECT user_id,
        |    list(event_type ORDER BY (epoch_us(ts) // 1000), event_id) AS seq
        |  FROM events GROUP BY user_id),
        |p AS (SELECT unnest(list_transform(
        |    generate_series(1, len(seq) - 1),
        |    i -> {f: seq[i], t: seq[i + 1]})) AS pr
        |  FROM s WHERE len(seq) > 1),
        |c AS (SELECT pr.f AS f, pr.t AS t, count(*)::BIGINT AS n
        |  FROM p GROUP BY 1, 2),
        |ns AS (SELECT f, sum(n)::BIGINT AS ns FROM c GROUP BY 1),
        |tot AS (SELECT sum(n)::BIGINT AS total FROM c),
        |terms AS (SELECT floor(
        |    (c.n::DOUBLE / ns.ns::DOUBLE)
        |      * ln(ns.ns::DOUBLE / c.n::DOUBLE)
        |      * (ns.ns::DOUBLE / tot.total::DOUBLE) * 1000000000.0)::BIGINT
        |    AS term
        |  FROM c JOIN ns USING (f) CROSS JOIN tot)
        |SELECT round(sum(term)::DOUBLE / 1000000000.0, 6)
        |  AS entropy_rate_nats
        |FROM terms""".stripMargin
  )
}
