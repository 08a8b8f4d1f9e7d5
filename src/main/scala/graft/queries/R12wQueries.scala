package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EventOps, TextOps}

/** Round-12w queries: attribution-window conversions and n-gram head
  * coverage.
  */
object R12wQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Last-touch attribution with a 24 h window: each purchase attributed
    // to the user's latest click at-or-before it, kept only when the
    // click is within the window — daily attributed-conversion counts.
    // Composes the as-of join (one key shuffle) + an id-keyed lookup of
    // the matched click's timestamp.
    "ev_attribution" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.where(col("event_type") === "purchase")
      val clicks = e.where(col("event_type") === "click")
      val matched = EventOps.asofJoin(
        purchases, col("event_id"), col("user_id"), col("ts"),
        clicks, col("event_id"), col("user_id"), col("ts"), col("value"))
      val clickTs = clicks.select(col("event_id").as("matched_id"),
        floor(unix_micros(col("ts")) / 1000).as("click_ms"))
      matched.where(col("matched_id").isNotNull)
        .withColumn("p_ms", floor(unix_micros(col("ts")) / 1000))
        .join(clickTs, "matched_id")
        .where(col("p_ms") - col("click_ms") <= 86400000L)
        .groupBy(floor(col("p_ms") / 86400000L).cast("long").as("day"))
        .agg(count(lit(1)).as("n_attributed"))
    }),

    // Head coverage: what fraction of the corpus trigram mass the top-100
    // trigrams carry — the Zipf-head gauge behind boilerplate suspicion
    // (high coverage = heavily templated corpus)
    "text_ngram_coverage" -> ((s, dir) => {
      val g = Tables.docs(s, dir)
        .select(explode(graft.functions.NgramStrings.ngramStrings(
          col("text"), 3)).as("g"))
      val counts = g.groupBy("g").agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum("cnt").as("total_grams"),
        count(lit(1)).as("distinct_grams"))
      val top = counts.orderBy(col("cnt").desc, col("g")).limit(100)
        .agg(sum("cnt").as("top100_mass"))
      tot.crossJoin(top)
        .select(col("total_grams"), col("distinct_grams"),
          col("top100_mass"),
          round(col("top100_mass").cast("double") / col("total_grams"), 6)
            .as("coverage"))
    })
  )

  def oracles: Map[String, String] = Map(

    // the as-of match orders at MICROsecond precision (the raw ts, as the
    // operator does); only the window-gap arithmetic floors to ms
    "ev_attribution" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT l.event_id AS lid, l.us AS p_us, r.us AS c_us,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.us DESC, r.event_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.us <= l.us)
        |SELECT ((p_us // 1000) // 86400000)::BIGINT AS day,
        |  count(*)::BIGINT AS n_attributed
        |FROM j WHERE rn = 1 AND (p_us // 1000) - (c_us // 1000) <= 86400000
        |GROUP BY 1""".stripMargin,

    "text_ngram_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT unnest(CASE WHEN len(t) >= 3
        |    THEN list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM toks),
        |c AS (SELECT g, count(*)::BIGINT AS cnt FROM g GROUP BY g),
        |tot AS (SELECT sum(cnt)::BIGINT AS total_grams,
        |  count(*)::BIGINT AS distinct_grams FROM c),
        |top AS (SELECT sum(cnt)::BIGINT AS top100_mass FROM
        |  (SELECT cnt FROM c ORDER BY cnt DESC, g LIMIT 100))
        |SELECT total_grams, distinct_grams, top100_mass,
        |  round(top100_mass::DOUBLE / total_grams, 6) AS coverage
        |FROM tot CROSS JOIN top""".stripMargin
  )
}
