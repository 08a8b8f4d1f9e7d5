package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.MlOps

/** Round-12ag queries: confidence-reliability table for the kNN
  * label-propagation classifier (the binning stage of isotonic
  * calibration — the PAV fit itself is spec-proven in MlOps).
  */
object R12agQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Does vote count predict correctness?  kNN (k=10) over the first 200
    // vectors as queries, bucketed by votes, empirical accuracy per
    // bucket — the reliability diagram feeding pavCalibrate.
    "ml_reliability" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val queries = e.where(col("vec_id") < 200)
      val pred = Tables.knnPred200(s, dir)
      pred.join(queries.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), "query_id")
        .groupBy("votes")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred_label") === col("true_label"), 1L)
            .otherwise(0L)).as("n_correct"))
        .select(col("votes"), col("n"), col("n_correct"),
          round(col("n_correct").cast("double") / col("n").cast("double"), 6)
            .as("rate"))
    })
  )

  /** 6-dp rounded cosine over two DuckDB list columns (mirror of
    * SimilarityOps.cosine). */
  private def cosSql(a: String, b: String): String =
    s"""round(
       |      list_reduce(list_transform(list_zip($a, $b),
       |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
       |      (sqrt(list_reduce(list_transform($a, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
       |       sqrt(list_reduce(list_transform($b, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
       |      6)""".stripMargin

  def oracles: Map[String, String] = Map(

    "ml_reliability" ->
      s"""WITH s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos
         |  FROM embeddings c CROSS JOIN
         |    (SELECT * FROM embeddings WHERE vec_id < 200) q
         |  WHERE c.vec_id <> q.vec_id),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) - 1 AS rank FROM s),
         |v AS (
         |  SELECT r.query_id, e.label AS pred_label, count(*)::BIGINT AS votes
         |  FROM r JOIN embeddings e ON e.vec_id = r.neighbor_id
         |  WHERE r.rank < 10 GROUP BY 1, 2),
         |a AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY votes DESC, pred_label) AS rn FROM v),
         |p AS (SELECT query_id, pred_label, votes FROM a WHERE rn = 1)
         |SELECT votes, count(*)::BIGINT AS n,
         |  sum(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END)::BIGINT
         |    AS n_correct,
         |  round(sum(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END)
         |    ::DOUBLE / count(*)::DOUBLE, 6) AS rate
         |FROM p JOIN embeddings t ON t.vec_id = p.query_id
         |GROUP BY votes""".stripMargin
  )
}
