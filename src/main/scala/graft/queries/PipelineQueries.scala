package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.ops._
import graft.streaming.StreamingOps

/** Round-7 pipeline queries: the curation operators a large-scale
  * training-data pipeline composes around the core engine — deterministic
  * train/val/test hash splits, the one-pass quality gate, corpus vocabulary,
  * exact class centroids over embeddings, and first-occurrence event dedup
  * (the batch semantics of streaming dropDuplicates).  All oracle-checked.
  */
object PipelineQueries extends QuerySet {

  import Tables.{docs, emb, events}

  private val Fracs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Domain-mixture parts: src0 gets 5/26 of the sample, src1 3/26, the
    * remaining 18 sources 1/26 each. */
  private val MixParts: Seq[(String, Long)] =
    Seq("src0" -> 5L, "src1" -> 3L) ++ (2 until 20).map(i => s"src$i" -> 1L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P3 at scale: deterministic hash split — assignment is a pure function
    // of (seed, doc_id), no driver index arrays (the reference builds
    // per-split row-index lists on the driver; loader.py:387-448)
    "p3_hash_split" -> ((s, dir) =>
      SplitOps.withSplit(docs(s, dir), col("doc_id"), seed = 42L, Fracs)
        .select("doc_id", "split")),

    // C4/Gopher-style quality gate: one projection, pushdown-able predicates
    "text_filter_pipeline" -> ((s, dir) =>
      TextOps.filterPipeline(docs(s, dir), col("text"), col("doc_id"),
        minTokens = 20L, maxTokens = 1000L, minQuality = 0.5,
        langs = Seq("en", "de", "es", "fr"))),

    // Corpus vocabulary: top-100 tokens by frequency (tokenizer-training /
    // coverage-audit pass)
    "text_vocab_topk" -> ((s, dir) =>
      TextOps.vocabTopK(docs(s, dir), col("text"), k = 100)),

    // Exact per-label embedding centroids (micro-unit integer sums — order-
    // independent, oracle-reproducible)
    "emb_centroids" -> ((s, dir) =>
      EmbedOps.centroids(emb(s, dir), col("embedding"),
        col("label").cast("long"))),

    // First-occurrence dedup per (user, event_type): batch semantics of
    // streaming dropDuplicates, as a min_by hash aggregate
    "stream_first_events" -> ((s, dir) =>
      StreamingOps.firstEvents(events(s, dir))),

    // Domain-mixture resampling: fixed target proportions over sources
    // (src0 5/26, src1 3/26, rest 1/26 each), with replacement
    "o3_domain_mixture" -> ((s, dir) => {
      val c = ScCollection.fromParquet(s, s"$dir/documents.parquet",
        Seq("doc_id"), Seq("source"))
      MixtureSampling(col("source"), MixParts.toMap, totalSize = 2 * c.length,
        blockSize = 8, rng = Rng.Md5).plan(c, 17)
        .select(col("doc_id"), col("source"),
          col(SamplingStrategy.Copy).cast("long").as("copy"),
          col(SamplingStrategy.Ord).as("ord"))
    }),

    // Sequence packing under a 256-token budget (concat-and-chunk plan)
    "pack_plan" -> ((s, dir) =>
      TextOps.packPlan(docs(s, dir), col("text"), col("doc_id"), budget = 256L))
  )

  def oracles: Map[String, String] = Map(
    "p3_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN u < 0.8 THEN 'train'
        |       WHEN u < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    (('0x' || substr(md5(concat_ws(':', 'split', '42', (doc_id)::VARCHAR)), 1, 8))::BIGINT
        |     / 4294967296.0) AS u
        |  FROM documents)""".stripMargin,

    "text_filter_pipeline" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |f AS (
        |  SELECT doc_id,
        |    len(toks) AS n_tokens,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_cnt,
        |    len(list_filter(toks, x -> x IN ('the','a','an','and','of','to','in','is','for','on'))) AS stop_hits,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('el','los','las','una','que','por'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','les','des','est','dans','pour'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('the','and','of','is','to','in'))) AS s_en
        |  FROM t
        |),
        |q AS (
        |  SELECT doc_id,
        |    CASE WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
        |         WHEN s_es > s_en AND s_es > s_fr THEN 'es'
        |         WHEN s_fr > s_en THEN 'fr'
        |         ELSE 'en' END AS lang_pred,
        |    n_tokens,
        |    round(
        |      0.4 * least(CAST(1.0 AS DOUBLE), n_tokens::DOUBLE / 200.0) +
        |      0.3 * (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_cnt::DOUBLE / greatest(n_tokens, 1)::DOUBLE)) +
        |      0.3 * least(CAST(1.0 AS DOUBLE), (stop_hits::DOUBLE / greatest(n_tokens, 1)::DOUBLE) * 5.0),
        |      6) AS quality
        |  FROM f
        |)
        |SELECT doc_id, lang_pred, n_tokens, quality FROM q
        |WHERE n_tokens >= 20 AND n_tokens <= 1000 AND quality >= 0.5
        |  AND lang_pred IN ('en', 'de', 'es', 'fr')""".stripMargin,

    "text_vocab_topk" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
        |  FROM documents
        |),
        |c AS (SELECT unnest(t) AS token FROM toks),
        |g AS (SELECT token, count(*) AS cnt FROM c GROUP BY token),
        |r AS (
        |  SELECT token, cnt,
        |         row_number() OVER (ORDER BY cnt DESC, token) - 1 AS rank
        |  FROM g
        |)
        |SELECT token, cnt, rank FROM r WHERE rank < 100""".stripMargin,

    "emb_centroids" ->
      """WITH x AS (
        |  SELECT label::BIGINT AS label,
        |         unnest(generate_series(1, len(embedding))) AS i,
        |         embedding AS e
        |  FROM embeddings
        |),
        |m AS (
        |  SELECT label, CAST(i - 1 AS BIGINT) AS dim,
        |         CAST(floor(e[i]::DOUBLE * 1000000.0) AS BIGINT) AS m
        |  FROM x
        |)
        |SELECT label, dim,
        |       CAST(sum(m) AS DOUBLE) / (count(*)::DOUBLE * 1000000.0) AS centroid,
        |       count(*) AS n
        |FROM m GROUP BY label, dim""".stripMargin,

    "o3_domain_mixture" -> {
      val partsValues = MixParts
        .map { case (s, p) => s"('$s', $p)" }.mkString(", ")
      s"""WITH r AS (
         |  SELECT doc_id, source, row_number() OVER (ORDER BY doc_id) - 1 AS row_id
         |  FROM documents
         |),
         |prt AS (SELECT * FROM (VALUES $partsValues) AS t(lbl, parts)),
         |cnts AS (SELECT source AS lbl, count(*) AS cnt FROM documents GROUP BY 1),
         |w AS (
         |  SELECT r.*, CAST(round(((1000000.0 * (SELECT count(*) FROM documents)) * p.parts::DOUBLE) /
         |    ((SELECT sum(parts) FROM prt) * c.cnt)::DOUBLE) AS BIGINT) AS wi
         |  FROM r JOIN cnts c ON r.source = c.lbl JOIN prt p ON r.source = p.lbl
         |),
         |c AS (
         |  SELECT *, sum(wi) OVER (ORDER BY row_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM w
         |),
         |params AS (
         |  SELECT max(cum)::DOUBLE AS tw,
         |         (('0x' || substr(md5('offset:17'), 1, 8))::BIGINT / 4294967296.0) AS off
         |  FROM c
         |),
         |cp AS (
         |  SELECT *,
         |    CAST(ceil(cum::DOUBLE / (SELECT tw FROM params) * CAST(2 * (SELECT count(*) FROM documents) AS DOUBLE) - (SELECT off FROM params))
         |       - ceil((cum - wi)::DOUBLE / (SELECT tw FROM params) * CAST(2 * (SELECT count(*) FROM documents) AS DOUBLE) - (SELECT off FROM params)) AS INT) AS copies
         |  FROM c
         |),
         |ex AS (
         |  SELECT doc_id, source, row_id,
         |         unnest(generate_series(1, copies)) AS copy
         |  FROM cp WHERE copies > 0
         |),
         |sr AS (
         |  SELECT *, row_number() OVER (ORDER BY row_id, copy) - 1 AS srank FROM ex
         |),
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'wblock', '17', (srank // 8)::VARCHAR)) AS bkey
         |  FROM sr
         |)
         |SELECT doc_id, source, copy::BIGINT AS copy,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin
    },

    "pack_plan" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tokens
        |  FROM documents
        |),
        |c AS (
        |  SELECT *, sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t
        |),
        |s AS (SELECT doc_id, n_tokens, cum - n_tokens AS strt FROM c)
        |SELECT doc_id, n_tokens, CAST(strt // 256 AS BIGINT) AS pack_id,
        |       CAST(strt % 256 AS BIGINT) AS pack_offset,
        |       (strt % 256) + n_tokens > 256 AS spans_boundary
        |FROM s""".stripMargin,

    "stream_first_events" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, value, epoch_ms(ts) AS ts_ms
        |  FROM events
        |),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts_ms, event_id) AS rn
        |  FROM e
        |)
        |SELECT user_id, event_type, event_id AS first_event_id,
        |       ts_ms AS first_ts_ms, value AS first_value
        |FROM r WHERE rn = 1""".stripMargin
  )
}
