package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EmbedOps, TextOps}

/** Round-12m queries: curriculum ordering, frequent-token downsampling,
  * and embedding-snapshot centroid drift.
  */
object R12mQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Curriculum order: quality tiers first (tier 0 = best), hash-shuffled
    // within tier — the easy-to-hard schedule as one global Ranker pass
    "o5_curriculum" -> ((s, dir) => {
      val t = TextOps.qualityTiers(Tables.docs(s, dir), col("text"),
        col("doc_id"), tiers = 3)
      val key = graft.core.Rng.Md5.sortKey(31L, "curr", col("doc_id"))
      graft.core.Ranker.withRank(
          t.select(col("doc_id"), col("tier"), key.as("__k")),
          "pos", col("tier"), col("__k"), col("doc_id"))
        .select("doc_id", "tier", "pos")
    }),

    // word2vec-style frequent-token subsampling: per-position keep draw
    // against min(1, sqrt(t/f)) — stop-word mass shrinks deterministically
    "text_token_downsample" -> ((s, dir) =>
      TextOps.downsampleFrequentTokens(Tables.docs(s, dir), col("text"),
        col("doc_id"))),

    // Embedding drift: per-label centroid cosine between the even- and
    // odd-id snapshot halves — pico-unit-exact, |labels| output rows
    "emb_drift" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      EmbedOps.centroidDrift(e.where(col("vec_id") % 2 === 0),
        e.where(col("vec_id") % 2 === 1), col("embedding"), col("label"))
    })
  )

  def oracles: Map[String, String] = Map(

    "o5_curriculum" ->
      s"""WITH tq AS (${R9Queries.oracles("text_quality_tiers")})
         |SELECT doc_id, tier,
         |  row_number() OVER (ORDER BY tier,
         |    md5(concat_ws(':', 'curr', '31', doc_id::VARCHAR)), doc_id) - 1
         |    AS pos
         |FROM tq""".stripMargin,

    "text_token_downsample" -> {
      val u = graft.core.Rng.Md5.uniformSql(17L, "tds",
        Seq("tk.doc_id", "tk.pos"))
      s"""WITH tk AS (
         |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
         |  FROM (SELECT doc_id, toks,
         |      unnest(generate_series(1, len(toks))) AS i
         |    FROM (SELECT doc_id,
         |        list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
         |      FROM documents))),
         |freq AS (SELECT tok, count(*)::BIGINT AS cnt FROM tk GROUP BY 1),
         |tot AS (SELECT sum(cnt)::BIGINT AS tot FROM freq),
         |p AS (SELECT tok,
         |    round(least(CAST(1.0 AS DOUBLE),
         |      sqrt(0.001 * tot::DOUBLE / cnt)), 6) AS p
         |  FROM freq CROSS JOIN tot),
         |kept AS (
         |  SELECT tk.doc_id FROM tk JOIN p USING (tok)
         |  WHERE $u < p.p),
         |a AS (SELECT doc_id, count(*)::BIGINT AS n_tokens FROM tk GROUP BY 1),
         |k AS (SELECT doc_id, count(*)::BIGINT AS n_kept FROM kept GROUP BY 1)
         |SELECT a.doc_id, a.n_tokens, coalesce(k.n_kept, 0)::BIGINT AS n_kept
         |FROM a LEFT JOIN k USING (doc_id)""".stripMargin
    },

    "emb_drift" ->
      """WITH x AS (
        |  SELECT vec_id, label::BIGINT AS label,
        |    unnest(generate_series(1, len(embedding))) AS i, embedding AS e
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(floor(e[i]::DOUBLE * 1000000.0) AS BIGINT) AS m
        |  FROM x),
        |ca AS (
        |  SELECT label, dim,
        |    CAST(sum(m) AS DOUBLE) / (count(*)::DOUBLE * 1000000.0) AS c,
        |    count(*) AS n
        |  FROM m WHERE vec_id % 2 = 0 GROUP BY label, dim),
        |cb AS (
        |  SELECT label, dim,
        |    CAST(sum(m) AS DOUBLE) / (count(*)::DOUBLE * 1000000.0) AS c,
        |    count(*) AS n
        |  FROM m WHERE vec_id % 2 = 1 GROUP BY label, dim),
        |j AS (
        |  SELECT ca.label,
        |    CAST(floor(ca.c * cb.c * 1e12) AS BIGINT) AS num9,
        |    CAST(floor(ca.c * ca.c * 1e12) AS BIGINT) AS da9,
        |    CAST(floor(cb.c * cb.c * 1e12) AS BIGINT) AS db9,
        |    ca.n AS na, cb.n AS nb
        |  FROM ca JOIN cb ON ca.label = cb.label AND ca.dim = cb.dim)
        |SELECT label,
        |  round(sum(num9)::DOUBLE / (sqrt(sum(da9)::DOUBLE) * sqrt(sum(db9)::DOUBLE)), 6) AS cos,
        |  max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b
        |FROM j GROUP BY label""".stripMargin
  )
}
