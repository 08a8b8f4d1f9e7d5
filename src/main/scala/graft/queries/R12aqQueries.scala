package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12aq queries: nested (array-of-struct) and map column
  * round-trip through parquet.
  */
object R12aqQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Nest → write → read → un-nest must lose nothing: events grouped
    // into per-user ARRAY<STRUCT> rows plus a MAP of per-type counts,
    // written as nested parquet, read back, exploded, and aggregated —
    // results must equal the flat aggregation that never left row form.
    // The columnar-nesting contract (repetition/definition levels, map
    // key-value pages) a multimodal/telemetry lake depends on.
    "s3_nested_roundtrip" -> ((s, dir) => {
      val p = R9Queries.runTmp + "/nested_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          col("event_id"), floor(col("value") * lit(1000000.0)).cast("long")
            .as("vmic"))
      val nested = e.groupBy("user_id")
        .agg(collect_list(struct(col("event_id"), col("event_type"),
          col("vmic"))).as("events"))
      val withMap = nested.join(
        e.groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
          .groupBy("user_id")
          .agg(map_from_entries(collect_list(struct(col("event_type"),
            col("n")))).as("type_counts")),
        "user_id")
      withMap.write.mode("overwrite").parquet(p)
      val back = s.read.parquet(p)
      val exploded = back.select(col("user_id"),
          explode(col("events")).as("ev"))
        .select(col("ev.event_type").as("event_type"),
          col("ev.vmic").as("vmic"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
      val fromMap = back.select(explode(col("type_counts"))
          .as(Seq("event_type", "n")))
        .groupBy("event_type").agg(sum("n").as("n_from_map"))
      exploded.join(fromMap, "event_type")
    })
  )

  def oracles: Map[String, String] = Map(

    // the flat aggregation — nesting, parquet, and un-nesting must be
    // invisible to it, twice over (array leg AND map leg)
    "s3_nested_roundtrip" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  sum(floor(value * 1000000.0)::BIGINT)::BIGINT AS vmic,
        |  count(*)::BIGINT AS n_from_map
        |FROM events GROUP BY 1""".stripMargin
  )
}
