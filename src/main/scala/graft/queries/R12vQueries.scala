package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{SimilarityOps, TextOps}

/** Round-12v queries: pipeline QA metrics — tokenizer fertility, the
  * embedding-norm histogram, and the packing-efficiency report.
  */
object R12vQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Tokenizer fertility: chars per (BPE-ish) token per language — the
    // "is this tokenizer efficient on this language" gauge
    "text_fertility" -> ((s, dir) =>
      Tables.docs(s, dir).groupBy("lang")
        .agg(sum("n_chars").as("chars"),
          sum(coalesce(TextOps.bpeishCount(col("text")).cast("long"),
            lit(0L))).as("bpe_tokens"))
        .select(col("lang"), col("chars"), col("bpe_tokens"),
          round(col("chars").cast("double") / col("bpe_tokens"), 6)
            .as("chars_per_token"))),

    // Embedding-norm histogram: un-normalized / degenerate vectors show
    // up as off-bucket mass — the embedding QA card
    "emb_norm_hist" -> ((s, dir) => {
      val n = round(sqrt(SimilarityOps.norm2(col("embedding"))), 6)
      Tables.emb(s, dir)
        .groupBy(floor(n * 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_vecs"))
    }),

    // Packing efficiency: context-window fill fraction and the
    // boundary-spanning doc count over the 256-token packPlan
    "pack_efficiency" -> ((s, dir) =>
      TextOps.packPlan(Tables.docs(s, dir), col("text"), col("doc_id"),
          budget = 256L)
        .agg((max("pack_id") + 1).as("n_packs"),
          sum("n_tokens").as("total_tokens"),
          round(sum("n_tokens").cast("double") /
            ((max("pack_id") + 1).cast("double") * 256.0), 6)
            .as("fill_frac"),
          sum(when(col("spans_boundary"), 1L).otherwise(0L))
            .as("n_spanning")))
  )

  def oracles: Map[String, String] = Map(

    "text_fertility" ->
      """SELECT lang, sum(n_chars)::BIGINT AS chars,
        |  sum(coalesce(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')), 0))::BIGINT AS bpe_tokens,
        |  round(sum(n_chars)::DOUBLE /
        |    sum(coalesce(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')), 0)), 6)
        |    AS chars_per_token
        |FROM documents GROUP BY lang""".stripMargin,

    "emb_norm_hist" ->
      """WITH n AS (
        |  SELECT CAST(floor(round(sqrt(list_reduce(
        |      list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
        |      (a, b) -> a + b)), 6) * 10) AS BIGINT) AS bucket
        |  FROM embeddings)
        |SELECT bucket, count(*)::BIGINT AS n_vecs FROM n GROUP BY bucket""".stripMargin,

    "pack_efficiency" -> {
      val plan = PipelineQueries.oracles("pack_plan")
      s"""WITH pp AS ($plan)
         |SELECT (max(pack_id) + 1)::BIGINT AS n_packs,
         |  sum(n_tokens)::BIGINT AS total_tokens,
         |  round(sum(n_tokens)::DOUBLE /
         |    ((max(pack_id) + 1)::DOUBLE * 256.0), 6) AS fill_frac,
         |  sum(CASE WHEN spans_boundary THEN 1 ELSE 0 END)::BIGINT AS n_spanning
         |FROM pp""".stripMargin
    }
  )
}
