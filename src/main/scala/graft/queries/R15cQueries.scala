package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{GraphOps, TextOps}

/** Round-15c: deterministic label-propagation communities over the
  * tier-shared co-engagement graph — two synchronous rounds, most-
  * frequent neighbor label, min-label ties; the oracle replays the
  * identical rounds in SQL. */
object R15cQueries extends QuerySet {

  private val unigramModels =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, Double)]]

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_lpa" -> ((s, dir) =>
      GraphOps.labelPropagation(Tables.coEdges(s, dir),
        col("src"), col("dst"), iters = 2)),

    // Governance audits over quasi-identifiers: k-anonymity class sizes
    // and l-diversity of a sensitive attribute — one aggregation each.
    "pii_k_anon" -> ((s, dir) =>
      graft.ops.PiiOps.kAnonymityAudit(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq(col("c_mktsegment"), col("c_nationkey")), k = 5)),

    "pii_l_diversity" -> ((s, dir) =>
      graft.ops.PiiOps.lDiversityAudit(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq(col("c_mktsegment"), col("c_nationkey")),
        floor(col("c_acctbal") / 1000).cast("long"), l = 8)),

    // Per-source cap — the "<= N pages per domain" mixture-control step:
    // each source keeps its 10 highest-quality docs (quality = length
    // here; ties by id), replayed exactly by the window oracle.
    "text_source_cap" -> ((s, dir) =>
      TextOps.perSourceCap(Tables.docs(s, dir), col("source"),
        col("doc_id"), col("n_chars").cast("long"), maxPerSource = 10)),

    // Temperature-scaled language mixture (alpha = 0.5): en dominates
    // the corpus, so its resampling weight drops below 1 while tail
    // languages rise — the multilingual-sampling recipe as one
    // aggregation + broadcast total.
    "mix_temperature" -> ((s, dir) =>
      TextOps.sourceMixtureWeights(Tables.docs(s, dir), col("lang"),
        alpha = 0.5)),

    // Unigram-LM (SentencePiece-style) tokenization: the Viterbi model
    // itself is spec-proven (R15UnigramSpec: EM learning, local ==
    // distributed, determinism); the oracle gates the tokenizer's
    // LOSSLESS round trip hash-exactly — concat(pieces) must rebuild
    // the normalized text of every document.
    "text_unigram_tokens" -> ((s, dir) => {
      val vocab = unigramModels.getOrElseUpdate(dir,
        TextOps.unigramTrain(Tables.docs(s, dir), col("text"),
          vocabSize = 2000, maxPieceLen = 6, emIters = 2))
      TextOps.unigramTokens(Tables.docs(s, dir), col("text"),
        col("doc_id"), vocab, maxPieceLen = 6)
        .select(col("doc_id"),
          md5(concat_ws("", col("tokens"))).as("tok_hash"))
    })
  )

  def oracles: Map[String, String] = Map(
    "graph_lpa" ->
      """WITH ui AS (SELECT DISTINCT user_id AS u,
        |    json_extract_string(props, '$.k')::INT AS item
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e0 AS (SELECT DISTINCT a.item AS a, b.item AS b
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item),
        |und AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
        |l0 AS (SELECT DISTINCT a AS v, a::BIGINT AS label FROM und),
        |c1 AS (SELECT u.a, l.label, count(*) AS cnt
        |  FROM und u JOIN l0 l ON l.v = u.b GROUP BY 1, 2),
        |l1 AS (SELECT a AS v, label FROM (
        |  SELECT a, label, row_number() OVER (PARTITION BY a
        |    ORDER BY cnt DESC, label ASC) AS rn FROM c1) WHERE rn = 1),
        |c2 AS (SELECT u.a, l.label, count(*) AS cnt
        |  FROM und u JOIN l1 l ON l.v = u.b GROUP BY 1, 2),
        |l2 AS (SELECT a AS v, label FROM (
        |  SELECT a, label, row_number() OVER (PARTITION BY a
        |    ORDER BY cnt DESC, label ASC) AS rn FROM c2) WHERE rn = 1)
        |SELECT v::BIGINT AS v, label FROM l2""".stripMargin,

    "pii_k_anon" ->
      """SELECT c_mktsegment, c_nationkey,
        |  count(*)::BIGINT AS class_size,
        |  count(*) < 5 AS violates_k
        |FROM customer GROUP BY 1, 2""".stripMargin,

    "pii_l_diversity" ->
      """SELECT c_mktsegment, c_nationkey,
        |  count(*)::BIGINT AS class_size,
        |  count(DISTINCT floor(c_acctbal / 1000)::BIGINT)::BIGINT
        |    AS distinct_sensitive,
        |  count(DISTINCT floor(c_acctbal / 1000)::BIGINT) >= 8 AS diverse_l
        |FROM customer GROUP BY 1, 2""".stripMargin,

    "text_source_cap" ->
      """SELECT doc_id, source, n_chars::BIGINT AS quality,
        |  src_rank::INT AS src_rank
        |FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS src_rank
        |  FROM documents)
        |WHERE src_rank <= 10""".stripMargin,

    "mix_temperature" ->
      """WITH c AS (SELECT lang AS source, count(*)::BIGINT AS n
        |  FROM documents GROUP BY 1),
        |t AS (SELECT sum(n)::DOUBLE AS tot,
        |             sum(pow(n::DOUBLE, 0.5)) AS ptot FROM c)
        |SELECT source, n,
        |  round(n / tot, 6) AS share,
        |  round(pow(n::DOUBLE, 0.5) / ptot, 6) AS target_share,
        |  round((pow(n::DOUBLE, 0.5) / ptot) / (n / tot), 6)
        |    AS resample_w
        |FROM c, t""".stripMargin,

    "text_unigram_tokens" ->
      """SELECT doc_id,
        |  md5(array_to_string(
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''), '')) AS tok_hash
        |FROM documents""".stripMargin
  )
}
