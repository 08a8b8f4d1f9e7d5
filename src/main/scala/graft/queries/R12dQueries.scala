package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EventOps, SplitOps}

/** Round-12d queries: sessionized conversion rate, exact-moment z-score
  * outlier flagging, per-class weighted (A-Res) sampling, and the
  * equi-width length histogram.
  */
object R12dQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Gap-timeout (30 min) sessions folded per user in ONE aggregate;
    // a session converts when it contains a purchase
    "ev_session_conversion" -> ((s, dir) =>
      EventOps.sessionConversion(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_id"), col("event_type"), "purchase",
        gapMs = 1800000L)),

    // |z| > 3 value outliers per event type — milli-unit integer moments,
    // broadcast stats, zero event-stream shuffles
    "ev_value_outliers" -> ((s, dir) =>
      EventOps.valueOutliers(Tables.events(s, dir), col("event_id"),
        col("event_type"), col("value"))),

    // Weighted sampling without replacement, 20 docs per language with
    // inclusion odds tracking n_chars (A-Res u^(1/w) key)
    "p3_weighted_quota" -> ((s, dir) =>
      SplitOps.weightedQuotaSample(
        Tables.docs(s, dir).select("doc_id", "lang", "n_chars"),
        col("lang"), col("doc_id"), col("n_chars"), seed = 7L, k = 20)
        .select("doc_id", "lang", "sample_key")),

    // Equi-width doc-length histogram: 100-char buckets, top-coded at 19
    "a1_length_hist" -> ((s, dir) =>
      Tables.docs(s, dir)
        .groupBy(least(floor(col("n_chars") / 100), lit(19L)).cast("long")
          .as("bucket"))
        .agg(count(lit(1)).as("n_docs"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars")))
  )

  def oracles: Map[String, String] = Map(

    "ev_session_conversion" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS cv
        |  FROM events),
        |o AS (SELECT *, lag(ms) OVER (PARTITION BY user_id
        |    ORDER BY ms, event_id) AS pms FROM e),
        |s AS (SELECT *, sum(CASE WHEN pms IS NULL OR ms - pms > 1800000
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o),
        |g AS (SELECT user_id, sid, max(cv) AS conv FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*)::BIGINT AS n_sessions,
        |  sum(conv)::BIGINT AS n_converted,
        |  round(sum(conv)::DOUBLE / count(*), 6) AS conv_rate
        |FROM g GROUP BY user_id""".stripMargin,

    "ev_value_outliers" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
        |st AS (SELECT event_type, count(*)::BIGINT AS n, sum(vm)::BIGINT AS s,
        |    sum((vm * vm)::DECIMAL(38,0)) AS sq FROM e GROUP BY 1),
        |j AS (SELECT e.event_id, e.event_type, e.vm,
        |    st.sq::DOUBLE / st.n -
        |      (st.s::DOUBLE / st.n) * (st.s::DOUBLE / st.n) AS var,
        |    (e.vm::DOUBLE - st.s::DOUBLE / st.n) /
        |      sqrt(st.sq::DOUBLE / st.n -
        |        (st.s::DOUBLE / st.n) * (st.s::DOUBLE / st.n)) AS z
        |  FROM e JOIN st USING (event_type))
        |SELECT event_id, event_type, vm AS value_milli, round(z, 6) AS z
        |FROM j WHERE var > 0 AND abs(z) > 3.0""".stripMargin,

    "p3_weighted_quota" -> {
      val u = graft.core.Rng.Md5.uniformSql(7L, "wquota", Seq("doc_id"))
      s"""WITH x AS (
         |  SELECT doc_id, lang,
         |    round(pow($u, 1.0 / n_chars), 6) AS sample_key
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY sample_key DESC, doc_id) AS rn FROM x)
         |SELECT doc_id, lang, sample_key FROM r WHERE rn <= 20""".stripMargin
    },

    "a1_length_hist" ->
      """SELECT least(n_chars // 100, 19)::BIGINT AS bucket,
        |  count(*)::BIGINT AS n_docs,
        |  min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars
        |FROM documents GROUP BY 1""".stripMargin
  )
}
