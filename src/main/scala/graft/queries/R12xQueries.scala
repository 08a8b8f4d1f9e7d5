package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.EventOps

/** Round-12x queries: conversion-lag distribution and per-document
  * character entropy.
  */
object R12xQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Click→purchase conversion-lag histogram (hours, top-coded at 48):
    // same as-of attribution pairs as ev_attribution, bucketed by lag
    "ev_conversion_lag" -> ((s, dir) => {
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
        .groupBy(least(floor((col("p_ms") - col("click_ms")) / 3600000),
          lit(48L)).cast("long").as("lag_hours"))
        .agg(count(lit(1)).as("n"))
    }),

    // Per-doc character-distribution entropy (nats): collapsed entropy =
    // repeated-char junk / binary-ish payloads — the gibberish detector.
    // Exact integer char counts; per-(doc, char) terms nano-floored
    // BEFORE the per-doc sum, so the entropy is summation-order-immune.
    "text_char_entropy" -> ((s, dir) => {
      val ch = Tables.docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
        .where(col("c") =!= "")
      val counts = ch.groupBy("doc_id", "c").agg(count(lit(1)).as("k"))
      val tot = counts.groupBy("doc_id").agg(sum("k").as("n"))
      val p = col("k").cast("double") / col("n")
      counts.join(tot, "doc_id")
        .select(col("doc_id"), col("n"),
          floor(-p * log(p) * 1e9).cast("long").as("t9"))
        .groupBy("doc_id")
        .agg(max("n").as("n_chars"),
          round(sum("t9").cast("double") / 1e9, 6).as("entropy"))
    })
  )

  def oracles: Map[String, String] = Map(

    "ev_conversion_lag" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT l.event_id AS lid, l.us AS p_us, r.us AS c_us,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.us DESC, r.event_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.us <= l.us)
        |SELECT least(((p_us // 1000) - (c_us // 1000)) // 3600000, 48)::BIGINT
        |  AS lag_hours, count(*)::BIGINT AS n
        |FROM j WHERE rn = 1 GROUP BY 1""".stripMargin,

    "text_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '')) AS c
        |  FROM documents),
        |f AS (SELECT doc_id, c FROM ch WHERE c <> ''),
        |k AS (SELECT doc_id, c, count(*)::BIGINT AS k FROM f GROUP BY 1, 2),
        |t AS (SELECT doc_id, sum(k)::BIGINT AS n FROM k GROUP BY 1),
        |x AS (
        |  SELECT k.doc_id, t.n,
        |    CAST(floor(-(k.k::DOUBLE / t.n) * ln(k.k::DOUBLE / t.n) * 1e9)
        |      AS BIGINT) AS t9
        |  FROM k JOIN t ON t.doc_id = k.doc_id)
        |SELECT doc_id, max(n)::BIGINT AS n_chars,
        |  round(sum(t9)::DOUBLE / 1e9, 6) AS entropy
        |FROM x GROUP BY doc_id""".stripMargin
  )
}
