package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.EventOps

/** Round-12at queries: Markov next-event backtest. */
object R12atQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // How predictable is the event stream?  Classify each transition's
    // next type as the current type's modal successor (argmax of the
    // transition matrix, tie → lexicographic) and measure accuracy —
    // the in-sample backtest that says whether first-order structure is
    // worth exploiting (resubstitution estimate; split by time for a
    // true holdout).  Everything derives from the |types|² transition
    // count table: the argmax window and the accuracy rollup never touch
    // the event stream again.
    "ml_markov_backtest" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = EventOps.transitionMatrix(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .select(col("from_type"), col("to_type"), col("n"))
      val w = Window.partitionBy("from_type")
        .orderBy(col("n").desc, col("to_type"))
      counts.withColumn("rn", row_number().over(w))
        .agg(sum("n").as("n_transitions"),
          sum(when(col("rn") === 1, col("n")).otherwise(0L)).as("n_correct"))
        .select(col("n_transitions"), col("n_correct"),
          round(col("n_correct").cast("double") /
            col("n_transitions").cast("double"), 6).as("accuracy"))
    })
  )

  def oracles: Map[String, String] = Map(

    "ml_markov_backtest" ->
      """WITH s AS (SELECT user_id,
        |    list(event_type ORDER BY (epoch_us(ts) // 1000), event_id) AS seq
        |  FROM events GROUP BY user_id),
        |p AS (SELECT unnest(list_transform(
        |    generate_series(1, len(seq) - 1),
        |    i -> {f: seq[i], t: seq[i + 1]})) AS pr
        |  FROM s WHERE len(seq) > 1),
        |c AS (SELECT pr.f AS from_type, pr.t AS to_type,
        |    count(*)::BIGINT AS n FROM p GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY from_type
        |    ORDER BY n DESC, to_type) AS rn FROM c)
        |SELECT sum(n)::BIGINT AS n_transitions,
        |  sum(CASE WHEN rn = 1 THEN n ELSE 0 END)::BIGINT AS n_correct,
        |  round(sum(CASE WHEN rn = 1 THEN n ELSE 0 END)::DOUBLE
        |    / sum(n)::DOUBLE, 6) AS accuracy
        |FROM r""".stripMargin
  )
}
