package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{LayoutOps, SimilarityOps, TextOps}

/** Round-12j queries: the per-source drift dashboard, the PQ
  * reconstruction-error report, and the sorted (zone-map) layout with a
  * range-pruned read.
  */
object R12jQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // One-vs-rest JS drift per source: the mixture-health dashboard —
    // one corpus shuffle, |sources|×buckets model state
    "text_source_drift" -> ((s, dir) =>
      TextOps.jsDriftByGroup(Tables.docs(s, dir), col("text"),
        col("source"))),

    // PQ quantization-quality report: per-subspace mean/max squared
    // reconstruction error of the encoded corpus (micro-unit-exact mean)
    "sim_pq_error" -> ((s, dir) =>
      SimilarityOps.pqEncode(Tables.emb(s, dir), col("embedding"),
          col("vec_id"), R10bQueries.pqCodebooks(s, dir), m = 4, subDim = 16)
        .groupBy("sub")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(round(col("d") * 1e6).cast("long")).cast("double") /
            1e6 / count(lit(1)), 6).as("mean_sqdist"),
          max("d").as("max_sqdist"))),

    // Zone-map layout: docs range-partitioned + sorted on n_chars, then a
    // band predicate read back — the filter reaches the scan as
    // PushedFilters against tight per-file/row-group stats
    "o5_sorted_layout" -> ((s, dir) => {
      val p = R9Queries.runTmp + "/sorted_docs_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      LayoutOps.writeSorted(Tables.docs(s, dir), "n_chars", nParts = 4, p)
      s.read.parquet(p)
        .where(col("n_chars") >= 500 && col("n_chars") <= 900)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    })
  )

  def oracles: Map[String, String] = Map(

    "text_source_drift" ->
      """WITH tk AS (
        |  SELECT source AS g,
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS b
        |  FROM (SELECT source,
        |      unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
        |    FROM documents)),
        |tb AS (SELECT g, b, count(*)::BIGINT AS c FROM tk GROUP BY 1, 2),
        |bt AS (SELECT b, sum(c)::BIGINT AS tb FROM tb GROUP BY 1),
        |gt AS (SELECT g, sum(c)::BIGINT AS ng FROM tb GROUP BY 1),
        |nn AS (SELECT sum(ng)::BIGINT AS nn FROM gt),
        |spine AS (
        |  SELECT gt.g, gt.ng, nn.nn, bt.b, bt.tb, coalesce(tb.c, 0) AS c
        |  FROM gt CROSS JOIN nn CROSS JOIN bt
        |  LEFT JOIN tb ON tb.g = gt.g AND tb.b = bt.b),
        |x AS (
        |  SELECT g, ng, CAST(floor((
        |    CASE WHEN c > 0 THEN 0.5 * (c::DOUBLE / ng) *
        |      ln((c::DOUBLE / ng) /
        |         (((c::DOUBLE / ng) + ((tb - c)::DOUBLE / (nn - ng))) / 2))
        |    ELSE 0.0 END +
        |    CASE WHEN tb - c > 0 THEN 0.5 * ((tb - c)::DOUBLE / (nn - ng)) *
        |      ln(((tb - c)::DOUBLE / (nn - ng)) /
        |         (((c::DOUBLE / ng) + ((tb - c)::DOUBLE / (nn - ng))) / 2))
        |    ELSE 0.0 END) * 1e9) AS BIGINT) AS t9
        |  FROM spine)
        |SELECT g AS "group", max(ng) AS tokens,
        |  round(sum(t9)::DOUBLE / 1e9, 6) AS js_nats
        |FROM x GROUP BY g""".stripMargin,

    "sim_pq_error" ->
      s"""WITH ${R10bQueries.PqEncSql},
         |codes AS (SELECT vec_id, sub, min(d) AS d FROM enc GROUP BY 1, 2)
         |SELECT sub, count(*)::BIGINT AS n_vecs,
         |  round(sum((round(d * 1e6))::BIGINT)::DOUBLE / 1e6 / count(*), 6)
         |    AS mean_sqdist,
         |  max(d) AS max_sqdist
         |FROM codes GROUP BY sub""".stripMargin,

    "o5_sorted_layout" ->
      """SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents WHERE n_chars >= 500 AND n_chars <= 900
        |GROUP BY lang""".stripMargin
  )
}
