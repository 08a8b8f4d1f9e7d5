package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.EventOps

/** Round-12ax queries: per-item growth trends. */
object R12axQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Which catalog items are growing?  The OLS hourly-trend card keyed
    // by the JSON item id — catalog-bounded output, exact integer sums,
    // one double division per item.
    // item extraction via anchored regex, not a full JSON parse: the
    // props column is a fixed machine format and get_json_object's
    // per-row Jackson parse measured ~20x slower at the 10x scale
    "ev_item_trend" -> ((s, dir) =>
      EventOps.trendSlope(
        Tables.events(s, dir)
          .select(nullif(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1),
            lit("")).cast("int").as("item"), col("ts"))
          .where(col("item").isNotNull),
        col("item"), col("ts"))
        .withColumnRenamed("event_type", "item"))
  )

  def oracles: Map[String, String] = Map(

    "ev_item_trend" ->
      """WITH h AS (SELECT json_extract_string(props, '$.k')::INT AS item,
        |    (epoch_us(ts) // 3600000000)::BIGINT AS hr, count(*)::BIGINT AS y
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
        |  GROUP BY 1, 2),
        |m AS (SELECT item, min(hr) AS mn FROM h GROUP BY 1),
        |s AS (SELECT h.item, count(*)::BIGINT AS n,
        |    sum(hr - mn)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum((hr - mn) * (hr - mn))::BIGINT AS sxx,
        |    sum((hr - mn) * y)::BIGINT AS sxy
        |  FROM h JOIN m USING (item) GROUP BY 1)
        |SELECT item, n,
        |  (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE AS slope,
        |  (sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
        |      / (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE) / n::DOUBLE
        |    AS intercept
        |FROM s""".stripMargin
  )
}
