package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EventOps, TextOps}

/** Round-12af queries: lagged cross-correlation and chi-square keyness.
  */
object R12afQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Does clicking lead purchasing?  Pearson r of the two hourly series
    // at lags 0..3 over the dense shared spine (missing hours are real
    // zeros) — integer moment sums, one fixed-order double expression.
    "ev_xcorr" -> ((s, dir) =>
      EventOps.crossCorrelation(Tables.events(s, dir), col("event_type"),
        col("ts"), typeA = "click", typeB = "purchase", maxLag = 3)),

    // What vocabulary distinguishes src0 from the rest of the corpus —
    // top-20 tokens by 2×2 χ² keyness.
    "text_keyness" -> ((s, dir) =>
      TextOps.keyness(Tables.docs(s, dir), col("text"),
        col("source") === "src0", k = 20))
  )

  def oracles: Map[String, String] = Map(

    "ev_xcorr" ->
      """WITH h AS (SELECT event_type AS t,
        |    (epoch_us(ts) // 3600000000)::BIGINT AS hr, count(*)::BIGINT AS y
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |bnd AS (SELECT min(hr) AS mn, max(hr) AS mx FROM h),
        |spine AS (SELECT unnest(generate_series(mn, mx)) AS hr FROM bnd),
        |a AS (SELECT s.hr, coalesce(h.y, 0) AS ya FROM spine s
        |  LEFT JOIN h ON h.t = 'click' AND h.hr = s.hr),
        |b AS (SELECT s.hr, coalesce(h.y, 0) AS yb FROM spine s
        |  LEFT JOIN h ON h.t = 'purchase' AND h.hr = s.hr),
        |l AS (SELECT unnest(generate_series(0, 3)) AS lag),
        |j AS (SELECT l.lag, a.ya, b.yb
        |  FROM a CROSS JOIN l JOIN b ON b.hr = a.hr + l.lag),
        |s AS (SELECT lag, count(*)::BIGINT AS n, sum(ya)::BIGINT AS sa,
        |    sum(yb)::BIGINT AS sb, sum(ya * yb)::BIGINT AS sab,
        |    sum(ya * ya)::BIGINT AS saa, sum(yb * yb)::BIGINT AS sbb
        |  FROM j GROUP BY 1)
        |SELECT lag, n,
        |  round((n * sab - sa * sb)::DOUBLE
        |    / (sqrt((n * saa - sa * sa)::DOUBLE)
        |      * sqrt((n * sbb - sb * sb)::DOUBLE)), 6) AS r
        |FROM s""".stripMargin,

    "text_keyness" ->
      """WITH toks AS (SELECT (source = 'src0') AS f,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT tok,
        |    sum(CASE WHEN f THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN f THEN 0 ELSE 1 END)::BIGINT AS b
        |  FROM toks GROUP BY 1),
        |t AS (SELECT sum(a)::BIGINT AS ta, sum(b)::BIGINT AS tb FROM c),
        |x AS (SELECT tok, a, b, ta - a AS cc, tb - b AS dd,
        |    a::HUGEINT * (tb - b) - b::HUGEINT * (ta - a) AS det,
        |    ta, tb
        |  FROM c CROSS JOIN t)
        |SELECT tok, a AS n_focus, b AS n_rest,
        |  round(((ta + tb)::HUGEINT * det * det)::DOUBLE
        |    / ((a + b)::HUGEINT * (cc + dd) * (a + cc) * (b + dd))::DOUBLE,
        |    6) AS chi2
        |FROM x
        |ORDER BY chi2 DESC, tok LIMIT 20""".stripMargin
  )
}
