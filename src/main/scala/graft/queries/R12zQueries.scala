package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EventOps, LayoutOps, TextOps}

/** Round-12z queries: SCD-2 intervalization, path n-grams, BM25 retrieval,
  * incremental rollup merge, and Z-order layout.
  */
object R12zQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Event-sourced SCD-2 build: each user's purchase-value observations
    // become validity intervals [valid_from, valid_to) with the open
    // interval flagged current — the temporal dimension table an as-of
    // join probes.
    "ev_scd2" -> ((s, dir) =>
      EventOps.scd2Intervals(
        Tables.events(s, dir).where(col("event_type") === "purchase"),
        col("user_id"), col("ts"), col("event_id"), col("value"))),

    // Corpus-wide order-3 path mining: every user's time-ordered
    // event-type sequence cut into sliding trigrams, counted.
    "ev_path_trigrams" -> ((s, dir) =>
      EventOps.pathNgrams(Tables.events(s, dir), col("user_id"), col("ts"),
        col("event_id"), col("event_type"), n = 3)),

    // BM25 top-10 against a 3-term query — the lexical retriever behind
    // hard-negative mining; per-doc scores in nano fixed point.
    "text_bm25_topk" -> ((s, dir) =>
      TextOps.bm25TopK(Tables.docs(s, dir), col("doc_id"), col("text"),
        terms = Seq("join", "vector", "window"), k = 10)),

    // Incremental rollup maintenance: the (type, day) count/value rollup
    // built as TWO partial rollups (even/odd days) merged by re-sum — the
    // oracle is the direct rollup of all events, so the merge invariant
    // (partials are associative) is what the gate checks.
    "ev_rollup_merge" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("day",
          floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
        .withColumn("vmic",
          floor(col("value") * lit(1000000.0)).cast("long"))
      def roll(d: DataFrame): DataFrame =
        d.groupBy("event_type", "day")
          .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
      LayoutOps.mergeRollups(
        roll(e.where(pmod(col("day"), lit(2)) === 0)),
        roll(e.where(pmod(col("day"), lit(2)) === 1)),
        keys = Seq("event_type", "day"), sumCols = Seq("n", "vmic"))
    }),

    // Z-order clustered lake: events written range-partitioned + sorted on
    // the Morton interleave of (user bucket, hour bucket), then a box
    // filter on BOTH dimensions read back off the layout — results must
    // equal the same filter over the raw table (layout-invariance).
    "o5_zorder_layout" -> ((s, dir) => {
      val p = R9Queries.runTmp + "/zorder_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val e = Tables.events(s, dir)
        .withColumn("ub", pmod(col("user_id"), lit(1024)).cast("long"))
        .withColumn("hb",
          pmod(floor(unix_micros(col("ts")) / lit(3600000000L)), lit(1024))
            .cast("long"))
      LayoutOps.writeZOrdered(e, col("ub"), col("hb"), bits = 10,
        nParts = 8, p)
      s.read.parquet(p)
        .where(col("ub") < 256 && col("hb") >= 256 && col("hb") < 512)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * lit(1000000.0)).cast("long")).as("vmic"))
    })
  )

  def oracles: Map[String, String] = Map(

    "ev_scd2" ->
      """WITH p AS (SELECT user_id, value, epoch_us(ts) AS us, event_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id AS key, value AS attr, us AS valid_from_us,
        |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |    AS valid_to_us,
        |  (lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |    IS NULL) AS is_current
        |FROM p""".stripMargin,

    "ev_path_trigrams" ->
      """WITH s AS (SELECT user_id,
        |    list(event_type ORDER BY epoch_us(ts), event_id) AS types
        |  FROM events GROUP BY 1),
        |g AS (SELECT unnest(list_transform(
        |    generate_series(1, len(types) - 2),
        |    i -> array_to_string(types[i:i+2], '>'))) AS path
        |  FROM s WHERE len(types) >= 3)
        |SELECT path, count(*)::BIGINT AS cnt FROM g GROUP BY 1""".stripMargin,

    // k1+1 is written (1.2 + 1.0), not 2.2: the Spark side computes the
    // constant by that addition and the two double literals differ in the
    // last ulp; idf is floored to 9 dp on both sides for the same reason
    "text_bm25_topk" ->
      """WITH base AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM base),
        |stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_dl FROM d),
        |hits AS (SELECT b.doc_id, d.dl, t.tok
        |  FROM base b JOIN d USING (doc_id), unnest(b.toks) AS t(tok)
        |  WHERE t.tok IN ('join', 'vector', 'window')),
        |tf AS (SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
        |  FROM hits GROUP BY 1, 2, 3),
        |df AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |c AS (SELECT tf.doc_id,
        |    floor((floor(ln((s.n_docs::DOUBLE - df.df::DOUBLE + 0.5)
        |        / (df.df::DOUBLE + 0.5) + 1.0) * 1000000000.0)::BIGINT::DOUBLE
        |        / 1000000000.0)
        |      * ((tf.tf::DOUBLE * (1.2 + 1.0))
        |        / (tf.tf::DOUBLE + 1.2 * (0.25
        |          + 0.75 * (tf.dl::DOUBLE
        |            / (s.total_dl::DOUBLE / s.n_docs::DOUBLE)))))
        |      * 1000000000.0)::BIGINT AS c
        |  FROM tf JOIN df USING (tok) CROSS JOIN stats s)
        |SELECT doc_id, round(sum(c)::DOUBLE / 1000000000.0, 6) AS score
        |FROM c GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // the oracle is the DIRECT rollup — equality with the merged partial
    // rollups is exactly the incremental-maintenance invariant
    "ev_rollup_merge" ->
      """SELECT event_type,
        |  (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |  count(*)::BIGINT AS n,
        |  sum(floor(value * 1000000.0)::BIGINT)::BIGINT AS vmic
        |FROM events GROUP BY 1, 2""".stripMargin,

    // layout-invariance: the box filter over the z-ordered table must
    // equal the same filter over the raw table
    "o5_zorder_layout" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  sum(floor(value * 1000000.0)::BIGINT)::BIGINT AS vmic
        |FROM (SELECT *, user_id % 1024 AS ub,
        |    (epoch_us(ts) // 3600000000) % 1024 AS hb
        |  FROM events)
        |WHERE ub < 256 AND hb >= 256 AND hb < 512
        |GROUP BY 1""".stripMargin
  )
}
