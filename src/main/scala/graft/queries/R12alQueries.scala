package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.LayoutOps

/** Round-12al queries: manifest-based versioned lake (time travel). */
object R12alQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Transaction-log time travel: commit v0 = first half of the month,
    // append v1 = the rest, then read BOTH snapshots back and aggregate —
    // v0 must still show the old state after v1 lands (no file is ever
    // rewritten; the append commit cost O(new data)).
    "o5_time_travel" -> ((s, dir) => {
      val p = R9Queries.runTmp + "/tt_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val e = Tables.events(s, dir)
        .withColumn("day",
          floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
        .withColumn("vmic",
          floor(col("value") * lit(1000000.0)).cast("long"))
        .select("event_id", "event_type", "day", "vmic")
      val cut = 19737L  // 2024-01-15
      if (LayoutOps.latestVersion(s, p) < 1) {
        LayoutOps.commitAppend(e.where(col("day") < cut), p)
        LayoutOps.commitAppend(e.where(col("day") >= cut), p)
      }
      def agg(v: Int): DataFrame =
        LayoutOps.readVersion(s, p, v)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
          .withColumn("version", lit(v))
      agg(0).unionByName(agg(1))
    })
  )

  def oracles: Map[String, String] = Map(

    "o5_time_travel" ->
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic,
        |  0 AS version
        |FROM e WHERE day < 19737 GROUP BY event_type
        |UNION ALL
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic,
        |  1 AS version
        |FROM e GROUP BY event_type""".stripMargin
  )
}
