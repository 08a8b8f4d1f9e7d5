package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.SimilarityOps

/** Round-12u queries: the rerank-recall gauge — does the two-stage
  * coarse-then-rerank pipeline recover the exact top-k?
  */
object R12uQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Recall@5 of the JL-coarse→exact-rerank pipeline vs the exact
    // ranking: rerank can only lose a true neighbour if the coarse stage
    // dropped it, so this measures the coarse stage's k→coarseK headroom
    "sim_rerank_recall" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val q = e.where(col("vec_id") < 10)
      val exact = SimilarityOps.bruteTopK(e, col("embedding"),
          col("vec_id"), q, col("embedding"), col("vec_id"), k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val rr = SimilarityOps.rerankTopK(e, col("embedding"), col("vec_id"),
          q, col("embedding"), col("vec_id"),
          dims = 64, projDims = 16, coarseK = 20, k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(rr, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
          (sum(coalesce(col("hit"), lit(0L))).cast("double") / 5.0)
            .as("recall"))
    })
  )

  def oracles: Map[String, String] = Map(

    "sim_rerank_recall" ->
      s"""WITH ${R10cQueries.RpSql},
         |${R10cQueries.RpTopkSql},
         |cand AS (SELECT query_id, neighbor_id FROM r WHERE rank < 20),
         |ex0 AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    round(
         |      list_reduce(list_transform(list_zip(q.embedding, e.embedding),
         |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
         |      (sqrt(list_reduce(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
         |       sqrt(list_reduce(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
         |      6) AS cos
         |  FROM cand c
         |  JOIN embeddings q ON q.vec_id = c.query_id
         |  JOIN embeddings e ON e.vec_id = c.neighbor_id),
         |rr AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) - 1 AS rank
         |  FROM ex0),
         |appx AS (SELECT query_id, neighbor_id FROM rr WHERE rank < 5),
         |es AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    round(
         |      list_reduce(list_transform(list_zip(q.embedding, e.embedding),
         |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
         |      (sqrt(list_reduce(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
         |       sqrt(list_reduce(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
         |      6) AS cos
         |  FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
         |  WHERE e.vec_id <> q.vec_id),
         |er AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) - 1 AS rank
         |  FROM es),
         |exact AS (SELECT query_id, neighbor_id FROM er WHERE rank < 5)
         |SELECT e.query_id,
         |  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
         |  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 5.0 AS recall
         |FROM exact e LEFT JOIN appx a USING (query_id, neighbor_id)
         |GROUP BY e.query_id""".stripMargin
  )
}
