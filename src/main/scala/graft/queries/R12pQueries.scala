package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{SimilarityOps, TextOps}

/** Round-12p queries: contrastive-training data prep — uniform and hard
  * negative sampling over embeddings, and preference-pair extraction.
  */
object R12pQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Uniform negative sampling: 5 deterministic pseudo-random non-self
    // corpus vectors per anchor — md5-ranked, WindowGroupLimit per anchor
    "emb_negatives" -> ((s, dir) => {
      val e = Tables.emb(s, dir).select("vec_id")
      val anchors = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("anchor_id"))
      val pairs = anchors.crossJoin(e.where(col("vec_id") >= 20))
        .select(col("anchor_id"), col("vec_id").as("negative_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("anchor_id")
        .orderBy(graft.core.Rng.Md5.sortKey(13L, "neg",
          col("anchor_id"), col("negative_id")), col("negative_id"))
      pairs.withColumn("rank", (row_number().over(w) - 1).cast("long"))
        .where(col("rank") < 5)
    }),

    // Hard negatives: neighbours ranked 5..9 by exact cosine — close
    // enough to be informative, not so close they are positives
    "emb_hard_negatives" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      SimilarityOps.bruteTopK(e, col("embedding"), col("vec_id"),
          e.where(col("vec_id") < 10), col("embedding"), col("vec_id"),
          k = 10)
        .where(col("rank") >= 5)
    }),

    // Preference pairs: per source, the best-quality doc as "chosen" and
    // the worst as "rejected" (quality ties break to the smaller id) —
    // the DPO/RLHF-style pair-prep shape, two min_by/max_by aggregates
    "rlhf_pairs" -> ((s, dir) => {
      val q = TextOps.qualityFeatures(Tables.docs(s, dir), col("text"),
        col("doc_id")).select(col("doc_id"), col("quality"))
      val d = Tables.docs(s, dir).select(col("doc_id"), col("source"))
      // composite integer keys (6-dp quality scaled past the id range) so
      // the argmax/argmin are single-BIGINT — the form every engine's
      // arg_max accepts; ties break to the smaller id on both sides
      val q6 = round(col("quality") * 1e6).cast("long")
      d.join(q, "doc_id")
        .groupBy("source")
        .agg(
          max_by(col("doc_id"), q6 * 10000000000L - col("doc_id"))
            .as("chosen_id"),
          max(col("quality")).as("chosen_q"),
          min_by(col("doc_id"), q6 * 10000000000L + col("doc_id"))
            .as("rejected_id"),
          min(col("quality")).as("rejected_q"))
    })
  )

  def oracles: Map[String, String] = Map(

    "emb_negatives" ->
      """WITH a AS (SELECT vec_id AS anchor_id FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS negative_id FROM embeddings WHERE vec_id >= 20),
        |p AS (
        |  SELECT anchor_id, negative_id,
        |    row_number() OVER (PARTITION BY anchor_id ORDER BY
        |      md5(concat_ws(':', 'neg', '13', anchor_id::VARCHAR, negative_id::VARCHAR)),
        |      negative_id) - 1 AS rank
        |  FROM a CROSS JOIN c)
        |SELECT anchor_id, negative_id, rank::BIGINT AS rank
        |FROM p WHERE rank < 5""".stripMargin,

    "emb_hard_negatives" -> {
      val cos =
        """round(
          |      list_reduce(list_transform(list_zip(q.embedding, c.embedding),
          |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
          |      (sqrt(list_reduce(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
          |       sqrt(list_reduce(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
          |      6)""".stripMargin
      s"""WITH s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    $cos AS cos
         |  FROM embeddings c CROSS JOIN
         |    (SELECT * FROM embeddings WHERE vec_id < 10) q
         |  WHERE c.vec_id <> q.vec_id),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) - 1 AS rank FROM s)
         |SELECT query_id, neighbor_id, cos, rank FROM r
         |WHERE rank >= 5 AND rank < 10""".stripMargin
    },

    "rlhf_pairs" -> {
      val quality = ExtQueries.oracles("text_quality")
      s"""WITH q AS ($quality),
         |j AS (SELECT d.source, q.doc_id, q.quality
         |  FROM documents d JOIN q ON q.doc_id = d.doc_id)
         |SELECT source,
         |  arg_max(doc_id, CAST(round(quality * 1e6) AS BIGINT) * 10000000000 - doc_id) AS chosen_id,
         |  max(quality) AS chosen_q,
         |  arg_min(doc_id, CAST(round(quality * 1e6) AS BIGINT) * 10000000000 + doc_id) AS rejected_id,
         |  min(quality) AS rejected_q
         |FROM j GROUP BY source""".stripMargin
    }
  )
}
