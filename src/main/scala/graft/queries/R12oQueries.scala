package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, EventOps, TextOps}

/** Round-12o queries: the column-profiling data-quality report, the
  * normalized-text exact dedup tier, and the funnel conversion-rate
  * report.
  */
object R12oQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Data-quality profile card: per-column null counts, domain
    // cardinalities, and value bounds in ONE map-side-combined aggregate
    // — the expectations report a pipeline run opens with
    "a1_dq_report" -> ((s, dir) =>
      Tables.docs(s, dir).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("null_text"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("null_lang"),
        sum(when(col("source").isNull, 1L).otherwise(0L)).as("null_source"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
        sum(when(col("n_chars") < 0, 1L).otherwise(0L)).as("neg_chars"))),

    // Normalized-text exact dedup: first occurrence per CCNet-normalized
    // form — catches case/punctuation/accent variants the raw exact tier
    // misses; one digest-keyed shuffle
    "dd_norm_exact" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      DedupOps.exactDedup(
        d.select(col("doc_id"),
          TextOps.normalizeText(col("text")).as("norm_text")),
        col("norm_text"), col("doc_id"))
        .select("doc_id")
    }),

    // Funnel conversion rates: users reaching AT LEAST stage k for every
    // stage 0..3 (dense spine — empty stages report 0), plus the
    // k-1 -> k conversion rate — triangle join on the tiny histogram,
    // no window
    "ev_funnel_rates" -> ((s, dir) => {
      val steps = Seq("signup", "view", "purchase")
      val f = EventOps.funnelStages(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_id"), col("event_type"), steps)
      val h = f.groupBy("stage").agg(count(lit(1)).as("n"))
      val spine = s.range(0, steps.size + 1L)
        .select(col("id").cast("int").as("stage"))
      val atLeast = spine.as("a")
        .join(h.as("b"), col("b.stage") >= col("a.stage"), "left")
        .groupBy(col("a.stage").as("stage"))
        .agg(coalesce(sum(col("b.n")), lit(0L)).as("n_at_least"))
      atLeast.as("x")
        .join(atLeast.as("y"), col("y.stage") === col("x.stage") - 1, "left")
        .select(col("x.stage").as("stage"), col("x.n_at_least"),
          when(col("y.n_at_least") > 0,
            round(col("x.n_at_least").cast("double") / col("y.n_at_least"),
              6)).as("conv_from_prev"))
    })
  )

  def oracles: Map[String, String] = Map(

    "a1_dq_report" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  (count(*) - count(text))::BIGINT AS null_text,
        |  (count(*) - count(lang))::BIGINT AS null_lang,
        |  (count(*) - count(source))::BIGINT AS null_source,
        |  count(DISTINCT lang)::BIGINT AS n_langs,
        |  count(DISTINCT source)::BIGINT AS n_sources,
        |  min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars,
        |  (count(*) FILTER (WHERE n_chars < 0))::BIGINT AS neg_chars
        |FROM documents""".stripMargin,

    "dd_norm_exact" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(regexp_replace(
        |      translate(lower(coalesce(text, '')),
        |        'áàâäãåçéèêëíìîïñóòôöõúùûüýÿ', 'aaaaaaceeeeiiiinooooouuuuyy'),
        |      '[0-9]', '0', 'g'), '[^a-z0 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
        |  FROM documents)
        |SELECT doc_id FROM n
        |WHERE doc_id IN (SELECT min(doc_id) FROM n GROUP BY md5(nt))""".stripMargin,

    "ev_funnel_rates" -> {
      val funnel = R12bQueries.oracles("ev_funnel")
      s"""WITH f AS ($funnel),
         |h AS (SELECT stage, count(*)::BIGINT AS n FROM f GROUP BY stage),
         |sp AS (SELECT unnest(generate_series(0, 3)) AS stage),
         |al AS (
         |  SELECT sp.stage, coalesce(sum(h.n), 0)::BIGINT AS n_at_least
         |  FROM sp LEFT JOIN h ON h.stage >= sp.stage GROUP BY sp.stage)
         |SELECT x.stage, x.n_at_least,
         |  CASE WHEN y.n_at_least > 0 THEN
         |    round(x.n_at_least::DOUBLE / y.n_at_least, 6) END AS conv_from_prev
         |FROM al x LEFT JOIN al y ON y.stage = x.stage - 1""".stripMargin
    }
  )
}
