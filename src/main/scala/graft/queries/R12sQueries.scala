package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/** Round-12s queries: the session-duration histogram and the DAU/WAU
  * stickiness card.
  */
object R12sQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Session-length distribution: gap-sessionized (30 min) durations
    // bucketed per minute, top-coded at 120 — the engagement histogram
    "ev_session_hist" -> ((s, dir) =>
      StreamingOps.sessionize(Tables.events(s, dir), gapMs = 1800000L)
        .groupBy(least(floor((col("end_ms") - col("start_ms")) / 60000),
          lit(120L)).cast("long").as("dur_min"))
        .agg(count(lit(1)).as("n_sessions"),
          sum("n_events").as("events"))),

    // DAU / WAU stickiness: distinct daily actives over distinct weekly
    // actives for the day's ISO-agnostic epoch week — two distinct
    // aggregates on (user, period) pairs, a broadcast week join
    "ev_dau_wau" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val ms = floor(unix_micros(col("ts")) / 1000)
      val day = floor(ms / 86400000L).cast("long")
      val pairs = e.select(col("user_id"), day.as("day"),
        (day.cast("long") / 7L).cast("long").as("wk")).distinct()
      val dau = pairs.select("user_id", "day", "wk").distinct()
        .groupBy("day", "wk").agg(count(lit(1)).as("dau"))
      val wau = pairs.select("user_id", "wk").distinct()
        .groupBy("wk").agg(count(lit(1)).as("wau"))
      dau.join(broadcast(wau), "wk")
        .select(col("day"), col("dau"), col("wau"),
          round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
    })
  )

  def oracles: Map[String, String] = Map(

    "ev_session_hist" -> {
      val sess = ExtQueries.oracles("stream_sessions")
      s"""WITH sess AS ($sess)
         |SELECT least((end_ms - start_ms) // 60000, 120)::BIGINT AS dur_min,
         |  count(*)::BIGINT AS n_sessions, sum(n_events)::BIGINT AS events
         |FROM sess GROUP BY 1""".stripMargin
    },

    "ev_dau_wau" ->
      """WITH p AS (
        |  SELECT DISTINCT user_id,
        |    (epoch_us(ts) // 1000) // 86400000 AS day,
        |    ((epoch_us(ts) // 1000) // 86400000) // 7 AS wk
        |  FROM events),
        |dau AS (SELECT day, wk, count(DISTINCT user_id)::BIGINT AS dau
        |  FROM p GROUP BY 1, 2),
        |wau AS (SELECT wk, count(DISTINCT user_id)::BIGINT AS wau
        |  FROM p GROUP BY 1)
        |SELECT d.day, d.dau, w.wau,
        |  round(d.dau::DOUBLE / w.wau, 6) AS stickiness
        |FROM dau d JOIN wau w USING (wk)""".stripMargin
  )
}
