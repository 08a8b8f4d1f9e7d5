package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12as queries: CUPED variance-reduced experiment readout. */
object R12asQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CUPED (controlled-experiment using pre-experiment data): per-user
    // pre-period value mass is the covariate, post-period mass the
    // metric; θ = cov(x,y)/var(x) pooled, each arm's mean adjusted by
    // −θ(x̄ₐ−x̄).  All sufficient statistics are exact integer/decimal
    // sums from ONE user-level aggregate + one global aggregate; θ and
    // the adjusted means are fixed-order double arithmetic at 6 dp.
    // The variance-reduction readout modern experimentation stacks run.
    "ev_cuped" -> ((s, dir) => {
      val cut = 19737L  // 2024-01-15
      val e = Tables.events(s, dir)
        .withColumn("day",
          floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
        .withColumn("vm", round(col("value") * 1000).cast("long"))
      val perUser = e.groupBy(col("user_id"))
        .agg(sum(when(col("day") < cut, col("vm")).otherwise(0L)).as("x"),
          sum(when(col("day") >= cut, col("vm")).otherwise(0L)).as("y"))
        .withColumn("arm", pmod(col("user_id"), lit(2)))
      val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val sums = perUser.agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(d(col("x")) * col("y")).as("sxy"),
        sum(d(col("x")) * col("x")).as("sxx"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sx0"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sy0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("sx1"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("sy1"))
      val n = col("n").cast("double")
      val theta =
        (n * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (n * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double"))
      val xbar = col("sx").cast("double") / n
      def adj(syA: String, sxA: String, nA: String) =
        (col(syA).cast("double") / col(nA).cast("double")) -
          theta * ((col(sxA).cast("double") / col(nA).cast("double")) - xbar)
      sums.select(col("n0"), col("n1"),
        round(theta, 6).as("theta"),
        round(adj("sy0", "sx0", "n0") / lit(1000.0), 6).as("adj_mean0"),
        round(adj("sy1", "sx1", "n1") / lit(1000.0), 6).as("adj_mean1"),
        round((adj("sy1", "sx1", "n1") - adj("sy0", "sx0", "n0")) /
          lit(1000.0), 6).as("adj_diff"))
    })
  )

  def oracles: Map[String, String] = Map(

    "ev_cuped" ->
      """WITH e AS (SELECT user_id,
        |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
        |u AS (SELECT user_id,
        |    sum(CASE WHEN day < 19737 THEN vm ELSE 0 END)::BIGINT AS x,
        |    sum(CASE WHEN day >= 19737 THEN vm ELSE 0 END)::BIGINT AS y,
        |    user_id % 2 AS arm
        |  FROM e GROUP BY user_id),
        |s AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy,
        |    sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN arm = 0 THEN x ELSE 0 END)::BIGINT AS sx0,
        |    sum(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS sy0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN arm = 1 THEN x ELSE 0 END)::BIGINT AS sx1,
        |    sum(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS sy1
        |  FROM u),
        |d AS (SELECT *, n::DOUBLE AS nd,
        |    (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |      / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) AS theta,
        |    sx::DOUBLE / n::DOUBLE AS xbar
        |  FROM s)
        |SELECT n0, n1, round(theta, 6) AS theta,
        |  round(((sy0::DOUBLE / n0::DOUBLE)
        |    - theta * ((sx0::DOUBLE / n0::DOUBLE) - xbar)) / 1000.0, 6)
        |    AS adj_mean0,
        |  round(((sy1::DOUBLE / n1::DOUBLE)
        |    - theta * ((sx1::DOUBLE / n1::DOUBLE) - xbar)) / 1000.0, 6)
        |    AS adj_mean1,
        |  round((((sy1::DOUBLE / n1::DOUBLE)
        |      - theta * ((sx1::DOUBLE / n1::DOUBLE) - xbar))
        |    - ((sy0::DOUBLE / n0::DOUBLE)
        |      - theta * ((sx0::DOUBLE / n0::DOUBLE) - xbar))) / 1000.0, 6)
        |    AS adj_diff
        |FROM d""".stripMargin
  )
}
