package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.MlOps

/** Round-12ao queries: exact AUC of the kNN confidence score. */
object R12aoQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Threshold-free discrimination: does vote count RANK correct
    // predictions above wrong ones?  Exact Mann-Whitney AUC with
    // average-rank ties, integer arithmetic to the final division.
    "ml_auc" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val queries = e.where(col("vec_id") < 200)
      val pred = Tables.knnPred200(s, dir)
      val joined = pred.join(queries.select(col("vec_id").as("query_id"),
        col("label").as("true_label")), "query_id")
      MlOps.exactAuc(joined, col("votes"),
        col("pred_label") === col("true_label"))
    })
  )

  private def cosSql(a: String, b: String): String =
    s"""round(
       |      list_reduce(list_transform(list_zip($a, $b),
       |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
       |      (sqrt(list_reduce(list_transform($a, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
       |       sqrt(list_reduce(list_transform($b, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
       |      6)""".stripMargin

  def oracles: Map[String, String] = Map(

    "ml_auc" ->
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
         |p0 AS (SELECT query_id, pred_label, votes FROM a WHERE rn = 1),
         |j AS (SELECT votes AS s,
         |    CASE WHEN p0.pred_label = t.label THEN 1 ELSE 0 END AS y
         |  FROM p0 JOIN embeddings t ON t.vec_id = p0.query_id),
         |g AS (SELECT s, count(*)::BIGINT AS cnt, sum(y)::BIGINT AS pos
         |  FROM j GROUP BY 1),
         |c AS (SELECT *, sum(cnt) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM g),
         |f AS (SELECT sum(pos)::BIGINT AS p, sum(cnt - pos)::BIGINT AS n,
         |    sum(pos * ((cum - cnt + 1) + cum))::BIGINT AS sr2 FROM c)
         |SELECT p AS n_pos, n AS n_neg,
         |  round((sr2 - p * (p + 1))::DOUBLE / (2 * p * n)::DOUBLE, 6) AS auc
         |FROM f""".stripMargin
  )
}
