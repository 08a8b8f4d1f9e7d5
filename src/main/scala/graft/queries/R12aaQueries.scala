package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EventOps, LayoutOps}
import graft.functions.TopKAgg

/** Round-12aa queries: trailing-window features, content-addressed audit
  * manifest, and bounded-state top-k per group.
  */
object R12aaQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Point-in-time features at purchase time: same-user click counts in
    // the trailing 1 h and 24 h, one window pass, leakage-safe frames.
    "ev_trailing_features" -> ((s, dir) =>
      EventOps.trailingFeatures(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_id"), col("event_type"),
        target = "purchase", signal = "click",
        horizonsMs = Seq(3600000L, 86400000L))),

    // Per-source tamper-evident manifest: row count + order-independent
    // XOR of md5-derived row digests — replicas compare manifests, not
    // bytes.
    "a1_manifest" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      LayoutOps.auditManifest(d, col("source"),
        LayoutOps.rowDigest(col("doc_id"), col("text")))
    }),

    // Top-3 longest docs per language via the bounded-state TopKAgg — the
    // map-side-combinable alternative to a window rank over the corpus.
    "a1_topk_per_group" -> ((s, dir) => {
      val topk = udaf(new TopKAgg(3))
      Tables.docs(s, dir)
        .groupBy("lang")
        .agg(topk(col("n_chars"), col("doc_id")).as("ids"))
        .select(col("lang"), posexplode(col("ids")).as(Seq("rank", "doc_id")))
    })
  )

  def oracles: Map[String, String] = Map(

    "ev_trailing_features" ->
      """WITH b AS (SELECT user_id AS key, epoch_us(ts) AS us,
        |    event_id AS id, event_type AS typ,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS sig
        |  FROM events),
        |w AS (SELECT *,
        |    sum(sig) OVER (PARTITION BY key ORDER BY us
        |      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS f1,
        |    sum(sig) OVER (PARTITION BY key ORDER BY us
        |      RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS f24
        |  FROM b)
        |SELECT id AS event_id, key, us,
        |  f1::BIGINT AS n_click_3600000ms,
        |  f24::BIGINT AS n_click_86400000ms
        |FROM w WHERE typ = 'purchase'""".stripMargin,

    "a1_manifest" ->
      """SELECT source AS grp, count(*)::BIGINT AS n_rows,
        |  bit_xor(('0x' || substr(md5(concat_ws('|', doc_id, text)), 1, 15))
        |    ::BIGINT)::BIGINT AS xor_digest
        |FROM documents GROUP BY 1""".stripMargin,

    "a1_topk_per_group" ->
      """SELECT lang, (rn - 1)::INT AS rank, doc_id
        |FROM (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3""".stripMargin
  )
}
