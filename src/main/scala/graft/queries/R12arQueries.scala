package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12ar queries: integer EWMA smoothing of the hourly series. */
object R12arQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exponentially-weighted level of each type's hourly count series —
    // the forecasting/alerting baseline.  EWMA is an inherently ORDERED
    // fold, the classic trap for distributed determinism; here the fold
    // runs INSIDE the per-type aggregate over the sorted (calendar-
    // bounded) hourly array, in INTEGER arithmetic
    // (s' = (20·x·10⁶ + 80·s) div 100, α = 0.2 in micro-units), so the
    // result is bit-identical under any partitioning AND in the SQL
    // mirror's list_reduce.  Emits the final level and the peak level.
    "ev_ewma" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val hr = floor(unix_micros(col("ts")) / lit(3600000000L)).cast("long")
      val hourly = e.select(col("event_type"), hr.as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("y"))
      hourly.groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("hr"), col("y"))))
          .as("series"))
        .select(col("event_type"),
          size(col("series")).cast("long").as("n_hours"),
          aggregate(col("series"),
            struct(lit(0L).as("level"), lit(0L).as("peak")),
            (acc, x) => {
              val num = lit(20L) * x.getField("y") * lit(1000000L) +
                lit(80L) * acc.getField("level")
              // exact integer division: subtract the remainder first, so
              // the double quotient is an exactly-representable integer
              val lvl = ((num - pmod(num, lit(100L))) / lit(100L))
                .cast("long")
              struct(lvl.as("level"),
                greatest(lvl, acc.getField("peak")).as("peak"))
            }).as("st"))
        .select(col("event_type"), col("n_hours"),
          col("st.level").as("ewma_micro"), col("st.peak").as("peak_micro"))
    })
  )

  def oracles: Map[String, String] = Map(

    // list_reduce folds left in list order — the same integer recurrence
    "ev_ewma" ->
      """WITH h AS (SELECT event_type,
        |    (epoch_us(ts) // 3600000000)::BIGINT AS hr, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*)::BIGINT AS n_hours,
        |    list(y ORDER BY hr) AS ys
        |  FROM h GROUP BY 1),
        |f AS (SELECT event_type, n_hours,
        |    list_reduce(list_prepend([0::BIGINT, 0::BIGINT],
        |      list_transform(ys, y -> [y, 0::BIGINT])),
        |      (acc, x) -> [
        |        (20 * x[1] * 1000000 + 80 * acc[1]) // 100,
        |        greatest((20 * x[1] * 1000000 + 80 * acc[1]) // 100, acc[2])
        |      ]) AS st
        |  FROM s)
        |SELECT event_type, n_hours, st[1] AS ewma_micro, st[2] AS peak_micro
        |FROM f""".stripMargin
  )
}
