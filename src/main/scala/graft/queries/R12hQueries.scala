package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{LayoutOps, TextOps}

/** Round-12h queries: the dense time spine (gap-filled reporting), the
  * mergeable-sketch distinct count (HLL union across groups), and the
  * small-files compaction contract.
  */
object R12hQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Dense hourly activity: every (hour, type) cell between the corpus
    // min and max hour, zero-filled — the sequence+explode calendar
    // spine, no driver loop, no generator UDF
    "ev_hourly_dense" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        floor(floor(unix_micros(col("ts")) / 1000) / 3600000).cast("long")
          .as("h"))
      val hours = e.agg(min("h").as("h0"), max("h").as("h1"))
        .select(explode(sequence(col("h0"), col("h1"))).as("h"))
      val types = e.select("event_type").distinct()
      val counts = e.groupBy("event_type", "h").agg(count(lit(1)).as("n"))
      hours.crossJoin(broadcast(types))
        .join(counts, Seq("event_type", "h"), "left")
        .na.fill(0L, Seq("n"))
    }),

    // Mergeable-sketch distinct tokens: per-source Datasketches HLL
    // sketches unioned into ONE corpus estimate — the re-aggregatable
    // form a 1000-partition corpus needs (sketches merge, exact distincts
    // do not).  Invariant oracle: exact count + estimate-within-5%
    "text_hll_union" -> ((s, dir) => {
      val toks = Tables.docs(s, dir).select(col("source"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      val sk = toks.groupBy("source").agg(hll_sketch_agg(col("tok")).as("sk"))
      val est = sk.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = toks.agg(countDistinct(col("tok")).as("n_exact"))
      est.crossJoin(exact)
        .select(col("n_exact"),
          (abs(col("est") - col("n_exact")).cast("double") /
            col("n_exact") <= 0.05).as("within_bound"))
    }),

    // Compaction contract: the corpus re-lands as exactly 3 files and
    // loses no rows — n_files observed via input_file_name() on re-scan
    "o5_compacted_write" -> ((s, dir) => {
      val p = R9Queries.runTmp + "/compact_docs_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      LayoutOps.compactWrite(Tables.docs(s, dir), nFiles = 3, p)
      s.read.parquet(p)
        .select(input_file_name().as("f"), col("n_chars"))
        .agg(countDistinct(col("f")).as("n_files"),
          count(lit(1)).as("n_rows"), sum("n_chars").as("chars"))
    })
  )

  def oracles: Map[String, String] = Map(

    "ev_hourly_dense" ->
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) // 1000) // 3600000 AS h FROM events),
        |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
        |hours AS (SELECT unnest(generate_series(h0, h1)) AS h FROM b),
        |types AS (SELECT DISTINCT event_type FROM e),
        |counts AS (SELECT event_type, h, count(*)::BIGINT AS n
        |  FROM e GROUP BY 1, 2)
        |SELECT t.event_type, hours.h, coalesce(c.n, 0)::BIGINT AS n
        |FROM hours CROSS JOIN types t
        |LEFT JOIN counts c ON c.event_type = t.event_type AND c.h = hours.h""".stripMargin,

    "text_hll_union" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents)
        |SELECT count(DISTINCT tok)::BIGINT AS n_exact, true AS within_bound
        |FROM tok""".stripMargin,

    "o5_compacted_write" ->
      """SELECT 3::BIGINT AS n_files, count(*)::BIGINT AS n_rows,
        |sum(n_chars)::BIGINT AS chars FROM documents""".stripMargin
  )
}
