package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.EventOps

/** Round-13b queries: the native whole-operator as-of join
  * (`graft.plans.AsOfJoin` — LogicalPlan + SparkStrategy + streaming
  * two-pointer merge exec).  Same semantics, oracle, and tie-breaks as
  * the composed `ev_asof_join`; what changes is the physical plan — one
  * co-partitioned shuffle + sort per side and O(1) merge state instead
  * of the union + keyed-window buffer. */
object R13bQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_asof_native" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventOps.asofJoinNative(
        e.where(col("event_type") === "click"), col("event_id"),
        col("user_id"), col("ts"),
        e.where(col("event_type") === "purchase"), col("event_id"),
        col("user_id"), col("ts"), col("value"))
    }),

    // forward direction: the NEXT purchase at-or-after each click —
    // smallest (ts, id) with r.ts >= l.ts
    "ev_asof_forward" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventOps.asofJoinNative(
        e.where(col("event_type") === "click"), col("event_id"),
        col("user_id"), col("ts"),
        e.where(col("event_type") === "purchase"), col("event_id"),
        col("user_id"), col("ts"), col("value"), forward = true)
    }),

    // nearest direction: the closest purchase on EITHER side of each
    // click; a tie in |Δ| goes to the backward row
    "ev_asof_nearest" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventOps.asofJoinNative(
        e.where(col("event_type") === "click"), col("event_id"),
        col("user_id"), col("ts"),
        e.where(col("event_type") === "purchase"), col("event_id"),
        col("user_id"), col("ts"), col("value"), nearest = true)
    }),

    // staleness-bounded backward match (pandas merge_asof tolerance):
    // the latest purchase within ONE HOUR before each click
    "ev_asof_tolerance" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventOps.asofJoinNative(
        e.where(col("event_type") === "click"), col("event_id"),
        col("user_id"), col("ts"),
        e.where(col("event_type") === "purchase"), col("event_id"),
        col("user_id"), col("ts"), col("value"), toleranceMs = 3600000L)
    })
  )

  def oracles: Map[String, String] = Map(
    // identical to ev_asof_join's oracle — the operator must reproduce
    // the composed form bit-for-bit
    "ev_asof_native" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT l.event_id AS lid, r.event_id AS rid, r.value AS rv,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.ts DESC, r.event_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |)
        |SELECT l.event_id AS left_id, l.user_id AS k, l.ts,
        |  j.rid AS matched_id, j.rv AS matched_value
        |FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.lid = l.event_id""".stripMargin,

    "ev_asof_forward" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT l.event_id AS lid, r.event_id AS rid, r.value AS rv,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.ts ASC, r.event_id ASC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.ts >= l.ts
        |)
        |SELECT l.event_id AS left_id, l.user_id AS k, l.ts,
        |  j.rid AS matched_id, j.rv AS matched_value
        |FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.lid = l.event_id""".stripMargin,

    "ev_asof_nearest" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT l.event_id AS lid, r.event_id AS rid, r.value AS rv,
        |    row_number() OVER (PARTITION BY l.event_id ORDER BY
        |      abs(epoch_us(r.ts) - epoch_us(l.ts)) ASC,
        |      CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END ASC,
        |      CASE WHEN r.ts <= l.ts THEN -r.event_id ELSE r.event_id END ASC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id
        |)
        |SELECT l.event_id AS left_id, l.user_id AS k, l.ts,
        |  j.rid AS matched_id, j.rv AS matched_value
        |FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.lid = l.event_id""".stripMargin,

    "ev_asof_tolerance" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT l.event_id AS lid, r.event_id AS rid, r.value AS rv,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.ts DESC, r.event_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |    AND epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
        |)
        |SELECT l.event_id AS left_id, l.user_id AS k, l.ts,
        |  j.rid AS matched_id, j.rv AS matched_value
        |FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.lid = l.event_id""".stripMargin
  )
}
