package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EventOps, TextOps}

/** Round-12ac queries: vocabulary-coverage curve, two-sample experiment
  * card, and functional-dependency profiling.
  */
object R12acQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Tokenizer-budget sizing: smallest frequency-ranked vocab covering
    // 50/90/95/99 % of corpus token mass (range-partitioned rank + exact
    // two-phase cumsum — no single-partition window).
    "text_vocab_coverage" -> ((s, dir) =>
      TextOps.vocabCoverage(Tables.docs(s, dir), col("text"),
        targets = Seq(0.5, 0.9, 0.95, 0.99))),

    // Two-arm experiment readout over the synthetic split user_id % 2:
    // per-arm n/mean and the Welch z of the value difference — six longs
    // shuffle, not rows.
    "ev_ab_test" -> ((s, dir) =>
      EventOps.abTestCard(Tables.events(s, dir),
        pmod(col("user_id"), lit(2)), col("value"))),

    // Functional-dependency profile: does lang determine source (and
    // vice versa), is doc_id a key for text — the schema-discovery card
    // behind join-key and partition-column choices.
    "a1_fd_check" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      def fd(name: String, det: org.apache.spark.sql.Column,
          dep: org.apache.spark.sql.Column): DataFrame =
        d.agg(countDistinct(det).as("n_det"),
            countDistinct(det, dep).as("n_pairs"))
          .select(lit(name).as("fd"), col("n_det"), col("n_pairs"),
            (col("n_pairs") === col("n_det")).as("holds"))
      fd("lang->source", col("lang"), col("source"))
        .unionByName(fd("source->lang", col("source"), col("lang")))
        .unionByName(fd("doc_id->text", col("doc_id"), col("text")))
    })
  )

  def oracles: Map[String, String] = Map(

    "text_vocab_coverage" ->
      """WITH t AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, count(*)::BIGINT AS cnt FROM t GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rn
        |  FROM c),
        |cu AS (SELECT rn, sum(cnt) OVER (ORDER BY rn
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM r),
        |tot AS (SELECT sum(cnt)::BIGINT AS total FROM c)
        |SELECT p AS target, min(rn)::BIGINT AS vocab_size
        |FROM cu CROSS JOIN tot
        |CROSS JOIN (VALUES (0.5), (0.9), (0.95), (0.99)) v(p)
        |WHERE cum >= ceil(p * total)::BIGINT
        |GROUP BY 1""".stripMargin,

    "ev_ab_test" ->
      """WITH b AS (SELECT user_id % 2 AS arm,
        |    CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
        |s AS (SELECT
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN arm = 0 THEN vm ELSE 0 END)::BIGINT AS s0,
        |    sum(CASE WHEN arm = 0 THEN vm::HUGEINT * vm ELSE 0::HUGEINT END) AS q0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN arm = 1 THEN vm ELSE 0 END)::BIGINT AS s1,
        |    sum(CASE WHEN arm = 1 THEN vm::HUGEINT * vm ELSE 0::HUGEINT END) AS q1
        |  FROM b),
        |d AS (SELECT n0, n1, n0::DOUBLE AS n0d, n1::DOUBLE AS n1d,
        |    s0::DOUBLE / n0::DOUBLE AS m0, s1::DOUBLE / n1::DOUBLE AS m1,
        |    q0::DOUBLE / n0::DOUBLE AS q0n, q1::DOUBLE / n1::DOUBLE AS q1n
        |  FROM s)
        |SELECT n0, n1,
        |  round(m0 / 1000.0, 6) AS mean0,
        |  round(m1 / 1000.0, 6) AS mean1,
        |  round((m1 - m0) / sqrt((q1n - m1 * m1) / n1d
        |    + (q0n - m0 * m0) / n0d), 6) AS z
        |FROM d""".stripMargin,

    "a1_fd_check" ->
      """WITH ls AS (SELECT count(DISTINCT lang)::BIGINT AS n_det,
        |    (SELECT count(*) FROM (SELECT DISTINCT lang, source
        |      FROM documents))::BIGINT AS n_pairs FROM documents),
        |sl AS (SELECT count(DISTINCT source)::BIGINT AS n_det,
        |    (SELECT count(*) FROM (SELECT DISTINCT source, lang
        |      FROM documents))::BIGINT AS n_pairs FROM documents),
        |dt AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_det,
        |    (SELECT count(*) FROM (SELECT DISTINCT doc_id, text
        |      FROM documents))::BIGINT AS n_pairs FROM documents)
        |SELECT 'lang->source' AS fd, n_det, n_pairs,
        |  (n_pairs = n_det) AS holds FROM ls
        |UNION ALL SELECT 'source->lang', n_det, n_pairs,
        |  (n_pairs = n_det) FROM sl
        |UNION ALL SELECT 'doc_id->text', n_det, n_pairs,
        |  (n_pairs = n_det) FROM dt""".stripMargin
  )
}
