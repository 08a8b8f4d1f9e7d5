package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, EventOps, SimilarityOps, SkewOps, TextOps}

/** Round-12c queries: the salted skew join, the pivot census (the §2.7
  * "no pivot" gap, Spark-native), cohort retention and inter-event gap
  * analytics over the events table, the character-level edit-distance
  * dedup confirm, the Flesch readability card, and the two-stage
  * coarse-then-rerank ANN serving shape.
  */
object R12cQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Salted hot-key join: every doc joined to its language's corpus-wide
    // doc count — lang has ~5 values, the canonical single-hot-key shape;
    // the salt spreads each language across 8 reducers
    "skew_salted_join" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val dim = d.groupBy("lang").agg(count(lit(1)).as("lang_docs"))
      SkewOps.saltedJoin(d.select("doc_id", "lang"), dim, "lang",
          salts = 8, saltSource = col("doc_id"))
        .select("doc_id", "lang", "lang_docs")
    }),

    // Pivot census: docs per (source × lang) as a wide table — one
    // Expand-free pivot aggregate, fixed column set for determinism
    "a1_pivot" -> ((s, dir) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val p = Tables.docs(s, dir).groupBy("source")
        .pivot("lang", langs).agg(count(lit(1)))
      p.select(col("source") +:
        langs.map(l => coalesce(col(l), lit(0L)).as(l)): _*)
    }),

    // Weekly cohort retention triangle: distinct users active k weeks
    // after their first-event week — ONE user-keyed shuffle
    "ev_cohort_retention" -> ((s, dir) =>
      EventOps.cohortRetention(Tables.events(s, dir), col("user_id"),
        col("ts"))),

    // Per-user inter-event gap card: count, span, max and exact-median
    // gap in ms — array folds inside one aggregate, no window
    "ev_gaps" -> ((s, dir) =>
      EventOps.interEventGaps(Tables.events(s, dir), col("user_id"),
        col("ts"))),

    // Character-level Levenshtein confirm over the MinHash banding
    // candidates (800-char prefix cap bounds the quadratic kernel)
    "dd_edit_confirm" -> ((s, dir) =>
      DedupOps.editSimilarityPairs(Tables.docs(s, dir), col("text"),
        col("doc_id"), Tables.minhashCands(s, dir))),

    // Flesch reading-ease card: words / sentences / vowel-group syllables
    // and the classic score — codegen'd regexp counts, no shuffle
    "text_readability" -> ((s, dir) =>
      TextOps.readability(Tables.docs(s, dir), col("text"), col("doc_id"))),

    // Two-stage ANN: JL 64→16 coarse top-20, exact cosine re-rank top-5
    // (queries vec_id < 10 — the sim_* convention)
    "sim_rerank" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      SimilarityOps.rerankTopK(e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 10), col("embedding"), col("vec_id"),
        dims = 64, projDims = 16, coarseK = 20, k = 5)
    })
  )

  /** 6-dp rounded cosine over two DuckDB list columns. */
  private def cosSql(a: String, b: String): String =
    s"""round(
       |      list_reduce(list_transform(list_zip($a, $b),
       |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
       |      (sqrt(list_reduce(list_transform($a, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
       |       sqrt(list_reduce(list_transform($b, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
       |      6)""".stripMargin

  def oracles: Map[String, String] = Map(

    "skew_salted_join" ->
      """WITH c AS (SELECT lang, count(*)::BIGINT AS lang_docs
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, c.lang_docs
        |FROM documents d JOIN c USING (lang)""".stripMargin,

    "a1_pivot" ->
      """SELECT source,
        |  (count(*) FILTER (WHERE lang = 'de'))::BIGINT AS de,
        |  (count(*) FILTER (WHERE lang = 'en'))::BIGINT AS en,
        |  (count(*) FILTER (WHERE lang = 'es'))::BIGINT AS es,
        |  (count(*) FILTER (WHERE lang = 'fr'))::BIGINT AS fr,
        |  (count(*) FILTER (WHERE lang = 'zh'))::BIGINT AS zh
        |FROM documents GROUP BY source""".stripMargin,

    "ev_cohort_retention" ->
      """WITH u AS (SELECT DISTINCT user_id,
        |    (epoch_us(ts) // 1000) // 604800000 AS p FROM events),
        |f AS (SELECT user_id, min(p) AS cohort FROM u GROUP BY user_id)
        |SELECT f.cohort, u.p - f.cohort AS period_offset,
        |  count(*)::BIGINT AS n_users
        |FROM u JOIN f ON u.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,

    "ev_gaps" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 1000 AS ms FROM events),
        |a AS (SELECT user_id, list_sort(list(ms)) AS arr FROM e GROUP BY user_id),
        |g AS (SELECT user_id, arr, len(arr) AS n,
        |    CASE WHEN len(arr) > 1 THEN
        |      list_transform(generate_series(1, len(arr) - 1), i -> arr[i + 1] - arr[i])
        |    END AS gaps
        |  FROM a)
        |SELECT user_id, n::BIGINT AS n_events,
        |  (arr[n] - arr[1])::BIGINT AS span_ms,
        |  list_max(gaps)::BIGINT AS max_gap_ms,
        |  (list_sort(gaps))[CAST(ceil(len(gaps) / 2.0) AS INTEGER)]::BIGINT AS median_gap_ms
        |FROM g""".stripMargin,

    "dd_edit_confirm" ->
      s"""WITH ${R10cQueries.MinhashPairsSql},
         |tx AS (SELECT doc_id, substr(lower(coalesce(text, '')), 1, 800) AS t
         |  FROM documents)
         |SELECT mp.doc_a, mp.doc_b,
         |  levenshtein(a.t, b.t)::BIGINT AS edit_dist,
         |  round(1.0 - levenshtein(a.t, b.t)::DOUBLE /
         |    greatest(length(a.t), length(b.t), 1), 6) AS edit_sim
         |FROM mp
         |JOIN tx a ON mp.doc_a = a.doc_id
         |JOIN tx b ON mp.doc_b = b.doc_id""".stripMargin,

    "text_readability" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'), t -> t <> ''))::BIGINT AS n_words,
        |    greatest(1, len(regexp_extract_all(lower(coalesce(text, '')), '[.!?]+')))::BIGINT AS n_sentences,
        |    len(regexp_extract_all(lower(coalesce(text, '')), '[aeiouy]+'))::BIGINT AS n_syllables
        |  FROM documents
        |)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    round(206.835 - 1.015 * (n_words::DOUBLE / n_sentences) -
        |          84.6 * (n_syllables::DOUBLE / n_words), 6)
        |  END AS flesch
        |FROM f""".stripMargin,

    "sim_rerank" ->
      s"""WITH ${R10cQueries.RpSql},
         |${R10cQueries.RpTopkSql},
         |cand AS (SELECT query_id, neighbor_id FROM r WHERE rank < 20),
         |ex AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    ${cosSql("q.embedding", "e.embedding")} AS cos
         |  FROM cand c
         |  JOIN embeddings q ON q.vec_id = c.query_id
         |  JOIN embeddings e ON e.vec_id = c.neighbor_id),
         |rr AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) - 1 AS rank
         |  FROM ex)
         |SELECT query_id, neighbor_id, cos, rank FROM rr WHERE rank < 5""".stripMargin
  )
}
