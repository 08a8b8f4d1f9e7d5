package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.EventOps

/** Round-13e queries: the windowed funnel (each stage must convert within
  * a time budget of the previous stage). */
object R13eQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // signup → view → purchase, each later stage within 1 h of the prior
    "ev_funnel_windowed" -> ((s, dir) =>
      EventOps.funnelStagesWindowed(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_id"), col("event_type"),
        Seq("signup", "view", "purchase"), windowMs = 3600000L)),

    // Spark's NATIVE session_window operator (batch form), 30-min gap —
    // same session semantics as the composed sessionize (whose oracle CTE
    // this reuses minus the session numbering); end = window end − gap =
    // the last event's timestamp
    "ev_sessions_native" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      e.groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          (sum(floor(col("value") * 1000000.0).cast("long")).cast("double")
            / 1000000.0).as("value_sum"))
        .select(col("user_id"),
          unix_millis(col("w.start")).as("start_ms"),
          (unix_millis(col("w.end")) - 1800000L).as("end_ms"),
          col("n_events"), col("value_sum"))
    })
  )

  def oracles: Map[String, String] = Map(
    // the same (stage, last-ts) automaton as a string-state list_reduce
    // over the (ts, event_id)-ordered per-user sequence; timestamps fold
    // as exact integer micros
    "ev_funnel_windowed" ->
      """WITH s AS (
        |  SELECT user_id,
        |    list(event_type || '|' || epoch_us(ts)::VARCHAR
        |         ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id
        |)
        |SELECT user_id, CAST(split_part(list_reduce(list_prepend('0|0', seq),
        |  (acc, x) ->
        |  CASE WHEN split_part(acc,'|',1) = '0' AND split_part(x,'|',1) = 'signup'
        |         THEN '1|' || split_part(x,'|',2)
        |       WHEN split_part(acc,'|',1) = '1' AND split_part(x,'|',1) = 'view'
        |         AND split_part(x,'|',2)::BIGINT - split_part(acc,'|',2)::BIGINT <= 3600000000
        |         THEN '2|' || split_part(x,'|',2)
        |       WHEN split_part(acc,'|',1) = '2' AND split_part(x,'|',1) = 'purchase'
        |         AND split_part(x,'|',2)::BIGINT - split_part(acc,'|',2)::BIGINT <= 3600000000
        |         THEN '3|' || split_part(x,'|',2)
        |       ELSE acc END), '|', 1) AS INTEGER) AS stage
        |FROM s""".stripMargin,

    "ev_sessions_native" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms FROM events
        |),
        |s AS (
        |  SELECT *, CASE
        |    WHEN lag(ts_ms) OVER w IS NULL THEN 1
        |    WHEN ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1
        |    ELSE 0 END AS is_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |),
        |sid AS (
        |  SELECT *, sum(is_start) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM s)
        |SELECT user_id, min(ts_ms)::BIGINT AS start_ms,
        |  max(ts_ms)::BIGINT AS end_ms, count(*)::BIGINT AS n_events,
        |  CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0 AS value_sum
        |FROM sid GROUP BY user_id, session_id""".stripMargin
  )
}
