package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12ai queries: expectation suite (constraint checks) and the
  * ingestion-lag card.
  */
object R12aiQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The expectations a pipeline run opens with, as data: referential
    // integrity (FK ⊆ PK via anti-join counts — the only corpus-wide work,
    // one key shuffle each), domain ranges, and key uniqueness.  At 100 TB
    // each check is a count, not a materialization; the suite is the
    // contract between producer and consumer tables.
    "a1_expectations" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val lineitem = s.read.parquet(s"$dir/lineitem.parquet")
      val docs = Tables.docs(s, dir)
      def check(name: String, violations: DataFrame): DataFrame =
        violations.agg(count(lit(1)).as("n_violations"))
          .select(lit(name).as("check"), col("n_violations"),
            (col("n_violations") === 0L).as("pass"))
      check("orders.custkey_fk",
        orders.join(customer,
          orders("o_custkey") === customer("c_custkey"), "left_anti"))
        .unionByName(check("lineitem.orderkey_fk",
          lineitem.join(orders,
            lineitem("l_orderkey") === orders("o_orderkey"), "left_anti")))
        .unionByName(check("orders.totalprice_nonneg",
          orders.where(col("o_totalprice") < 0)))
        .unionByName(check("lineitem.discount_range",
          lineitem.where(col("l_discount") < 0 || col("l_discount") > 1)))
        .unionByName(check("documents.doc_id_unique",
          docs.groupBy("doc_id").agg(count(lit(1)).as("c"))
            .where(col("c") > 1)))
    }),

    // Ingestion-lag card: per event type, how far its newest event trails
    // the newest event overall — the is-a-producer-stuck dashboard row.
    "ev_ingest_lag" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
      val perType = e.groupBy("event_type").agg(max("us").as("max_us"),
        count(lit(1)).as("n"))
      perType.crossJoin(broadcast(e.agg(max("us").as("global_us"))))
        .select(col("event_type"), col("n"),
          ((col("global_us") - col("max_us")) / lit(60000000L)).cast("long")
            .as("lag_minutes"))
    })
  )

  def oracles: Map[String, String] = Map(

    "a1_expectations" ->
      """SELECT 'orders.custkey_fk' AS check,
        |  (SELECT count(*) FROM orders o LEFT JOIN customer c
        |    ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)::BIGINT
        |    AS n_violations,
        |  (SELECT count(*) FROM orders o LEFT JOIN customer c
        |    ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) = 0 AS pass
        |UNION ALL
        |SELECT 'lineitem.orderkey_fk',
        |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)::BIGINT,
        |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) = 0
        |UNION ALL
        |SELECT 'orders.totalprice_nonneg',
        |  (SELECT count(*) FROM orders WHERE o_totalprice < 0)::BIGINT,
        |  (SELECT count(*) FROM orders WHERE o_totalprice < 0) = 0
        |UNION ALL
        |SELECT 'lineitem.discount_range',
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_discount < 0 OR l_discount > 1)::BIGINT,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_discount < 0 OR l_discount > 1) = 0
        |UNION ALL
        |SELECT 'documents.doc_id_unique',
        |  (SELECT count(*) FROM (SELECT doc_id FROM documents
        |    GROUP BY doc_id HAVING count(*) > 1))::BIGINT,
        |  (SELECT count(*) FROM (SELECT doc_id FROM documents
        |    GROUP BY doc_id HAVING count(*) > 1)) = 0""".stripMargin,

    "ev_ingest_lag" ->
      """WITH t AS (SELECT event_type, max(epoch_us(ts)) AS max_us,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1),
        |g AS (SELECT max(epoch_us(ts)) AS global_us FROM events)
        |SELECT event_type, n,
        |  ((global_us - max_us) // 60000000)::BIGINT AS lag_minutes
        |FROM t CROSS JOIN g""".stripMargin
  )
}
