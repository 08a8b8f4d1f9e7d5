package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12am queries: the DataSource V2 generator source, checked
  * against a SQL regeneration of the same table. */
object R12amQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Read 100k rows from the custom DSv2 connector (8 input partitions)
    // and aggregate — the oracle REGENERATES the table in SQL from the
    // same integer formulas, so the connector's full stack (planning,
    // partitioning, row emission) is value-checked, not smoke-tested.
    "s1_gen_source" -> ((s, _) =>
      s.read.format("graft.sources.GraftGenSource")
        .option("rows", "100000").option("parts", "8").option("seed", "7")
        .load()
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("id").as("id_sum"),
          sum(floor(col("val") * lit(1000.0)).cast("long")).as("val_mil")))
  )

  def oracles: Map[String, String] = Map(

    "s1_gen_source" ->
      """WITH g AS (SELECT i AS id,
        |    (((i + 7) % 1048576) * 40503 % 100)::INT AS bucket,
        |    ((((i + 7) % 1048576) * 2654435761 % 1000000) / 1000.0) AS val
        |  FROM generate_series(0, 99999) t(i))
        |SELECT bucket, count(*)::BIGINT AS n, sum(id)::BIGINT AS id_sum,
        |  sum(floor(val * 1000.0)::BIGINT)::BIGINT AS val_mil
        |FROM g GROUP BY 1""".stripMargin
  )
}
