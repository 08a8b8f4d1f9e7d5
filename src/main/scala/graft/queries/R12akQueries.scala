package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12ak queries: audience-overlap matrix and the Benford
  * first-digit forensic.
  */
object R12akQueries extends QuerySet {

  private val BenfordP: Seq[(Int, Double)] = Seq(
    1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
    3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
    5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
    7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
    9 -> 0.04575749056067514)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Segment-overlap matrix: for every event-type pair, the distinct
    // users doing BOTH and the Jaccard of the two audiences — the
    // audience-similarity card behind segment dedup and mix design.  The
    // incidence is deduplicated first, so everything downstream is
    // segment-cardinality-sized.
    "ev_audience_overlap" -> ((s, dir) => {
      val ut = Tables.events(s, dir)
        .select(col("user_id").as("u"), col("event_type").as("t")).distinct()
      val sizes = ut.groupBy("t").agg(count(lit(1)).as("n"))
      val b = ut.select(col("u"), col("t").as("t_b"))
      ut.join(b, ut("u") === b("u") && col("t") < col("t_b"))
        .groupBy(col("t").as("ta"), col("t_b").as("tb"))
        .agg(count(lit(1)).as("n_both"))
        .join(broadcast(sizes.select(col("t").as("ta"), col("n").as("na"))), "ta")
        .join(broadcast(sizes.select(col("t").as("tb"), col("n").as("nb"))), "tb")
        .select(col("ta"), col("tb"), col("n_both"),
          round(col("n_both").cast("double") /
            (col("na") + col("nb") - col("n_both")).cast("double"), 6)
            .as("jaccard"))
    }),

    // Benford's-law forensic on the value column (integer cents → first
    // digit via integer formatting, identical across engines): observed
    // vs expected digit mass and the per-digit chi-square contribution —
    // fabricated or capped metrics jump off this table.
    "ev_benford" -> ((s, dir) => {
      val vm = round(col("value") * 100).cast("long")
      val e = Tables.events(s, dir)
        .select(vm.as("vm")).where(col("vm") > 0)
        .select(substring(col("vm").cast("string"), 1, 1).cast("int")
          .as("digit"))
      val obs = e.groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val expRows = BenfordP.map { case (d, p) =>
        struct(lit(d).as("digit"), lit(p).as("p"))
      }
      val expected = obs.sparkSession.range(1)
        .select(explode(array(expRows: _*)).as("e"))
        .select(col("e.digit"), col("e.p"))
      val tot = obs.agg(sum("n_obs").as("n")).
        select(col("n"))
      obs.join(broadcast(expected), "digit")
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"),
          round(col("n").cast("double") * col("p"), 6).as("n_expected"),
          round(
            (col("n_obs").cast("double") - col("n").cast("double") * col("p")) *
              (col("n_obs").cast("double") - col("n").cast("double") * col("p")) /
              (col("n").cast("double") * col("p")), 6).as("chi2_part"))
    })
  )

  def oracles: Map[String, String] = Map(

    "ev_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t
        |  FROM events),
        |sz AS (SELECT t, count(*)::BIGINT AS n FROM ut GROUP BY 1),
        |p AS (SELECT a.t AS ta, b.t AS tb, count(*)::BIGINT AS n_both
        |  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t GROUP BY 1, 2)
        |SELECT ta, tb, n_both,
        |  round(n_both::DOUBLE / (sa.n + sb.n - n_both)::DOUBLE, 6) AS jaccard
        |FROM p JOIN sz sa ON sa.t = p.ta JOIN sz sb ON sb.t = p.tb"""
        .stripMargin,

    "ev_benford" ->
      """WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS vm
        |  FROM events),
        |d AS (SELECT substr(vm::VARCHAR, 1, 1)::INT AS digit FROM v
        |  WHERE vm > 0),
        |o AS (SELECT digit, count(*)::BIGINT AS n_obs FROM d GROUP BY 1),
        |t AS (SELECT sum(n_obs)::BIGINT AS n FROM o),
        |e AS (SELECT * FROM (VALUES
        |  (1, 0.3010299956639812), (2, 0.17609125905568124),
        |  (3, 0.12493873660829992), (4, 0.09691001300805642),
        |  (5, 0.07918124604762482), (6, 0.06694678963061322),
        |  (7, 0.05799194697768673), (8, 0.05115252244738129),
        |  (9, 0.04575749056067514)) AS e(digit, p))
        |SELECT o.digit, o.n_obs,
        |  round(t.n::DOUBLE * e.p, 6) AS n_expected,
        |  round((o.n_obs::DOUBLE - t.n::DOUBLE * e.p)
        |    * (o.n_obs::DOUBLE - t.n::DOUBLE * e.p)
        |    / (t.n::DOUBLE * e.p), 6) AS chi2_part
        |FROM o JOIN e ON e.digit = o.digit CROSS JOIN t""".stripMargin
  )
}
