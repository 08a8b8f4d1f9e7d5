package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EventOps, LayoutOps}

/** Round-12r queries: the parquet-lake upsert (MERGE-INTO shape) and
  * seasonal traffic-anomaly detection.
  */
object R12rQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SCD1 merge: an update batch (every 5th doc, lengths re-measured)
    // upserted into the base snapshot — updated keys take the new row,
    // the rest survive, nothing duplicates
    "o5_upsert" -> ((s, dir) => {
      val base = Tables.docs(s, dir).select("doc_id", "n_chars")
      val updates = base.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), (col("n_chars") + 1000L).as("n_chars"))
      LayoutOps.upsert(base, updates, "doc_id")
    }),

    // Seasonal anomaly: hours whose count deviates > 2 sd from the SAME
    // hour-of-day baseline for that event type — exact integer moments
    "ev_hourly_anomalies" -> ((s, dir) =>
      EventOps.hourlyAnomalies(Tables.events(s, dir), col("event_type"),
        col("ts")))
  )

  def oracles: Map[String, String] = Map(

    "o5_upsert" ->
      """SELECT doc_id,
        |  (n_chars + CASE WHEN doc_id % 5 = 0 THEN 1000 ELSE 0 END)::BIGINT
        |    AS n_chars
        |FROM documents""".stripMargin,

    "ev_hourly_anomalies" ->
      """WITH hc AS (
        |  SELECT event_type, (epoch_us(ts) // 1000) // 3600000 AS h,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |hb AS (SELECT *, h % 24 AS hod FROM hc),
        |st AS (
        |  SELECT event_type, hod, count(*)::BIGINT AS m, sum(n)::BIGINT AS s,
        |    sum(n * n)::BIGINT AS sq
        |  FROM hb GROUP BY 1, 2),
        |j AS (
        |  SELECT hb.event_type, hb.h, hb.n,
        |    st.sq::DOUBLE / st.m -
        |      (st.s::DOUBLE / st.m) * (st.s::DOUBLE / st.m) AS var,
        |    (hb.n::DOUBLE - st.s::DOUBLE / st.m) /
        |      sqrt(st.sq::DOUBLE / st.m -
        |        (st.s::DOUBLE / st.m) * (st.s::DOUBLE / st.m)) AS z
        |  FROM hb JOIN st ON st.event_type = hb.event_type AND st.hod = hb.hod)
        |SELECT event_type, h, n, round(z, 6) AS z
        |FROM j WHERE var > 0 AND abs(z) > 2.0""".stripMargin
  )
}
