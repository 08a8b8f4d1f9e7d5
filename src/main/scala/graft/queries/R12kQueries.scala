package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EventOps, TextOps}

/** Round-12k queries: the event-type Markov transition matrix and the
  * exact percentile-rank normalization.
  */
object R12kQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // User-journey structure: corpus (from -> to) transition counts and
    // row-normalized probabilities — pairs fold inside one aggregate,
    // output |types|²-bounded
    "ev_transitions" -> ((s, dir) =>
      EventOps.transitionMatrix(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_id"), col("event_type"))),

    // Threshold-free gating: each doc's exact length percentile via the
    // range-partitioned Ranker (no single-partition window)
    "text_len_pctile" -> ((s, dir) =>
      TextOps.percentileRank(Tables.docs(s, dir), col("n_chars"),
        col("doc_id")))
  )

  def oracles: Map[String, String] = Map(

    "ev_transitions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms,
        |    event_type FROM events),
        |o AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ms, event_id) AS nxt
        |  FROM e),
        |c AS (SELECT event_type AS from_type, nxt AS to_type,
        |    count(*)::BIGINT AS n
        |  FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  round(c.n::DOUBLE / t.tot, 6) AS p
        |FROM c JOIN t USING (from_type)""".stripMargin,

    "text_len_pctile" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rn,
        |    count(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id, n_chars AS metric,
        |  round(rn::DOUBLE / greatest(1, n - 1), 6) AS pctile
        |FROM r""".stripMargin
  )
}
