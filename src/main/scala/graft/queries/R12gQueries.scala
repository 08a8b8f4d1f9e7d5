package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.EventOps

/** Round-12g queries: the classic TPC-H analytics headliners (q1 pricing
  * summary, q3 shipping priority) in exact cent arithmetic, the
  * exact-moment value/hour correlation, and the schema-evolution and
  * multi-format source reads.
  */
object R12gQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q1 pricing summary: the canonical scan-heavy aggregate.
    // All money/discount terms are integerized (cents / milli) so every
    // sum is exact; sum_charge's per-row product needs DECIMAL(38,0)
    "tpch_q1" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      val qc = round(col("l_quantity") * 100).cast("long")
      val pc = round(col("l_extendedprice") * 100).cast("long")
      val d3 = round(col("l_discount") * 1000).cast("long")
      val t3 = round(col("l_tax") * 1000).cast("long")
      li.select(col("l_returnflag"), col("l_linestatus"), qc.as("qc"),
          pc.as("pc"), d3.as("d3"), t3.as("t3"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum("qc").cast("double") / 100.0).as("sum_qty"),
          (sum("pc").cast("double") / 100.0).as("sum_base_price"),
          (sum(col("pc") * (lit(1000L) - col("d3"))).cast("double") / 1e5)
            .as("sum_disc_price"),
          (sum((col("pc") * (lit(1000L) - col("d3")) *
            (lit(1000L) + col("t3"))).cast("decimal(38,0)")).cast("double")
            / 1e8).as("sum_charge"),
          round(sum("qc").cast("double") / 100.0 / count(lit(1)), 6)
            .as("avg_qty"),
          round(sum("pc").cast("double") / 100.0 / count(lit(1)), 6)
            .as("avg_price"),
          round(sum("d3").cast("double") / 1000.0 / count(lit(1)), 6)
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // TPC-H Q3 shipping priority: filtered 3-way join (customer broadcast,
    // orders⋈lineitem shuffled on the order key), exact cent-milli
    // revenue, deterministic top-10 via TakeOrdered
    "tpch_q3" -> ((s, dir) => {
      val cutoff = lit("1998-06-01").cast("timestamp")
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(1000L) - round(col("l_discount") * 1000).cast("long")))
            .as("rev_cm"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg((sum("rev_cm").cast("double") / 1e5).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Diurnality check: exact-moment Pearson r between value and
    // hour-of-day per event type
    "ev_value_corr" -> ((s, dir) =>
      EventOps.valueHourCorr(Tables.events(s, dir), col("event_type"),
        col("value"), col("ts"))),

    // Schema evolution: two shards with drifting schemas (one lacks lang)
    // read as ONE frame under mergeSchema — missing columns read as null
    "s2_schema_merge" -> ((s, dir) => {
      val base = R9Queries.runTmp + "/merge_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val d = Tables.docs(s, dir)
      d.select("doc_id", "n_chars")
        .write.mode("overwrite").parquet(s"$base/s1")
      d.select("doc_id", "n_chars", "lang")
        .write.mode("overwrite").parquet(s"$base/s2")
      s.read.option("mergeSchema", "true").parquet(s"$base/s1", s"$base/s2")
        .agg(count(lit(1)).as("n_rows"),
          count(col("lang")).as("n_with_lang"),
          sum("n_chars").as("chars"))
    }),

    // Multi-format source: ORC round-trip (write once, scan with the ORC
    // reader) — same per-lang census as the parquet path
    "s3_orc_roundtrip" -> ((s, dir) => {
      val p = R9Queries.runTmp + "/orc_docs_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Tables.docs(s, dir).write.mode("overwrite").orc(p)
      s.read.orc(p).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    })
  )

  def oracles: Map[String, String] = Map(

    "tpch_q1" ->
      """WITH li AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qc,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |    CAST(round(l_discount * 1000) AS BIGINT) AS d3,
        |    CAST(round(l_tax * 1000) AS BIGINT) AS t3
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
        |SELECT l_returnflag, l_linestatus,
        |  sum(qc)::DOUBLE / 100.0 AS sum_qty,
        |  sum(pc)::DOUBLE / 100.0 AS sum_base_price,
        |  sum(pc * (1000 - d3))::DOUBLE / 1e5 AS sum_disc_price,
        |  sum((pc * (1000 - d3) * (1000 + t3))::DECIMAL(38,0))::DOUBLE / 1e8 AS sum_charge,
        |  round(sum(qc)::DOUBLE / 100.0 / count(*), 6) AS avg_qty,
        |  round(sum(pc)::DOUBLE / 100.0 / count(*), 6) AS avg_price,
        |  round(sum(d3)::DOUBLE / 1000.0 / count(*), 6) AS avg_disc,
        |  count(*)::BIGINT AS count_order
        |FROM li GROUP BY 1, 2""".stripMargin,

    "tpch_q3" ->
      """WITH l AS (
        |  SELECT l_orderkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (1000 - CAST(round(l_discount * 1000) AS BIGINT)) AS rev_cm
        |  FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-06-01 00:00:00')
        |SELECT l.l_orderkey, o.o_orderdate,
        |  sum(l.rev_cm)::DOUBLE / 1e5 AS revenue
        |FROM l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |WHERE o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND c.c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, l.l_orderkey LIMIT 10""".stripMargin,

    "ev_value_corr" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(round(value * 1000) AS BIGINT) AS vm,
        |    ((epoch_us(ts) // 1000) // 3600000) % 24 AS h
        |  FROM events),
        |st AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(vm)::BIGINT AS sx,
        |    sum(h)::BIGINT AS sy, sum(vm * h)::BIGINT AS sxy,
        |    sum(vm::HUGEINT * vm) AS sxx, sum(h * h)::BIGINT AS syy
        |  FROM e GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN (n::HUGEINT * sxx - sx::HUGEINT * sx) > 0
        |        AND (n::HUGEINT * syy - sy::HUGEINT * sy) > 0 THEN
        |    round((n::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE /
        |      (sqrt((n::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE) *
        |       sqrt((n::HUGEINT * syy - sy::HUGEINT * sy)::DOUBLE)), 6)
        |  END AS corr
        |FROM st""".stripMargin,

    "s2_schema_merge" ->
      """SELECT (count(*) * 2)::BIGINT AS n_rows, count(*)::BIGINT AS n_with_lang,
        |  (sum(n_chars) * 2)::BIGINT AS chars
        |FROM documents""".stripMargin,

    "s3_orc_roundtrip" ->
      """SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY lang""".stripMargin
  )
}
