package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{SimilarityOps, TextOps}

/** Round-16i: two training-data pipeline tiers the surface lacked —
  * hard-negative mining for contrastive/embedding training (filter BEFORE
  * the rank window, so k negatives survive even when positives dominate
  * the neighbourhood) and boundary-respecting sequence packing (the
  * truncation-free SFT packing: shelf variant exactly SQL-replayable,
  * first-fit-decreasing variant gauge-checked against its packing
  * invariants). */
object R16iQueries extends QuerySet {

  private val Cap = 128L // context window; every sf doc fits whole (max 99)

  private def tokenCounts(s: SparkSession, dir: String): DataFrame =
    Tables.docs(s, dir).select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // top-10 highest-cosine DIFFERENT-label neighbours of 5 query vectors
    "sim_hard_negatives" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      SimilarityOps.hardNegatives(e, col("embedding"), col("vec_id"),
        col("label"), e.where(col("vec_id") < 5), col("embedding"),
        col("vec_id"), col("label"), k = 10)
    }),

    // contrastive margin gauge: easiest positive minus hardest negative
    // per query (negative margin = a negative out-scores some positive)
    "sim_neg_margin" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val q = e.where(col("vec_id") < 5)
      val negs = SimilarityOps.hardNegatives(e, col("embedding"),
        col("vec_id"), col("label"), q, col("embedding"), col("vec_id"),
        col("label"), k = 10)
      val pos = e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv"), col("label").as("__nl"))
        .join(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"), col("label").as("__ql"))),
          col("neighbor_id") =!= col("query_id") &&
            col("__nl") === col("__ql"))
        .select(col("query_id"),
          round(SimilarityOps.cosine(col("qv"), col("cv")), 6).as("cos"))
      SimilarityOps.negativeMargin(negs, pos, col("query_id"), col("cos"))
    }),

    // shelf packing: closed-form size-class assignment, exactly replayed
    // by the oracle (class = cap//n, q docs of class q per bin)
    "text_pack_shelf" -> ((s, dir) =>
      TextOps.packBinsShelf(tokenCounts(s, dir), col("n_tokens"),
        col("doc_id"), Cap)),

    // FFD packing gauge: run true first-fit-decreasing in 8 groups, then
    // assert the packing invariants IN the result — every doc placed
    // exactly once, no bin over capacity, bins_used within [⌈total/cap⌉,
    // n_docs], and the first-fit half-empty property (≤ 1 bin per group
    // with fill ≤ cap/2).  The oracle replays the SQL-exact columns and
    // pins packing_ok to literal true.
    "text_pack_ffd" -> ((s, dir) => {
      val packed = TextOps.packBinsFfd(tokenCounts(s, dir), col("n_tokens"),
        col("doc_id"), Cap, numGroups = 8)
      val bins = packed.groupBy("grp", "bin_in_group")
        .agg(sum("n_tokens").as("fill"))
      val halfPerGrp = bins.groupBy("grp")
        .agg(sum(when(col("fill") <= Cap / 2, 1L).otherwise(0L))
          .as("nhalf"))
      val docAgg = packed.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("doc_id")).as("n_distinct"),
        sum(col("n_tokens")).as("total_tokens"))
      val binAgg = bins.agg(count(lit(1)).as("bins_used"),
        max(col("fill")).as("max_fill"))
      val halfAgg = halfPerGrp.agg(max(col("nhalf")).as("max_half"))
      docAgg.crossJoin(binAgg).crossJoin(halfAgg)
        .select(col("n_docs"), col("total_tokens"),
          ceil(col("total_tokens").cast("double") / Cap).cast("long")
            .as("lb_bins"),
          (col("n_distinct") === col("n_docs") &&
            col("max_fill") <= Cap &&
            col("bins_used") >=
              ceil(col("total_tokens").cast("double") / Cap) &&
            col("bins_used") <= col("n_docs") &&
            col("max_half") <= 1L).as("packing_ok"))
    })
  )

  // the shared 6-dp cosine grammar — same helper as every other cosine
  // oracle in the bank, so the fold/rounding can never drift per-file
  private val CosSql = R12Queries.cosSql("q.qv", "e.embedding")

  def oracles: Map[String, String] = Map(

    "sim_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
         |  FROM embeddings WHERE vec_id < 5),
         |s AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id, $CosSql AS cos
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> q.query_id AND e.label <> q.ql),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) - 1
         |    AS rank
         |  FROM s)
         |SELECT query_id, neighbor_id, cos, rank FROM r
         |WHERE rank < 10""".stripMargin,

    "sim_neg_margin" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
         |  FROM embeddings WHERE vec_id < 5),
         |s AS (
         |  SELECT q.query_id, q.ql, e.label AS nl, $CosSql AS cos
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> q.query_id)
         |SELECT query_id,
         |  max(CASE WHEN nl <> ql THEN cos END) AS hardest_neg_cos,
         |  min(CASE WHEN nl = ql THEN cos END) AS easiest_pos_cos,
         |  round(min(CASE WHEN nl = ql THEN cos END) -
         |    max(CASE WHEN nl <> ql THEN cos END), 6) AS margin
         |FROM s GROUP BY query_id
         |HAVING hardest_neg_cos IS NOT NULL
         |  AND easiest_pos_cos IS NOT NULL""".stripMargin,

    "text_pack_shelf" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens, (128 // n_tokens)::BIGINT AS size_class
        |  FROM t),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY size_class ORDER BY doc_id) - 1 AS cr
        |  FROM c)
        |SELECT doc_id, n_tokens, size_class,
        |  (cr // size_class)::BIGINT AS bin_in_class,
        |  (cr % size_class)::BIGINT AS slot
        |FROM r""".stripMargin,

    "text_pack_ffd" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents)
        |SELECT count(*)::BIGINT AS n_docs,
        |  sum(n_tokens)::BIGINT AS total_tokens,
        |  ceil(sum(n_tokens)::DOUBLE / 128)::BIGINT AS lb_bins,
        |  true AS packing_ok
        |FROM t""".stripMargin
  )
}
