package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, MlOps, TextOps}

/** Round-12e queries: Jensen-Shannon corpus drift, kNN label propagation,
  * the incremental (persisted) embedding index — the semantic tier of the
  * incremental-dedup ladder — and the equi-depth histogram.
  */
object R12eQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Corpus-drift monitor: JS divergence between the en and de token
    // mixes over 4096 hashed buckets — O(buckets) state, two narrow scans
    "text_js_divergence" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      TextOps.jsDivergence(d.where(col("lang") === "en"), col("text"),
        d.where(col("lang") === "de"), col("text"))
    }),

    // Label propagation: majority label of the 5 nearest neighbours for
    // each query vector (vote ties to the smallest label)
    "ml_knn_classify" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      MlOps.knnClassify(e, col("embedding"), col("vec_id"), col("label"),
        e.where(col("vec_id") < 20), col("embedding"), col("vec_id"), k = 5)
    }),

    // Incremental semantic tier: even vectors persisted as an SRP-banded
    // index, odd vectors arrive as the new shard — only the shard is
    // hashed; == banded pairs on the union restricted to pairs touching
    // an odd vector
    "dd_incremental_embed" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val idx = R9Queries.runTmp + "/emb_index_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      IndexBuilds.once(s"dd_incremental_embed:$dir") {
        DedupOps.embIndexWrite(e.where(col("vec_id") % 2 === 0),
          col("embedding"), col("vec_id"), dims = 64, idx)
      }
      DedupOps.embCandidatesAgainst(idx, e.where(col("vec_id") % 2 === 1),
        col("embedding"), col("vec_id"), dims = 64, minCosine = 0.4)
    }),

    // Equi-depth histogram: 10 equal-count doc-length bins via the
    // range-partitioned Ranker (no single-partition window)
    "a1_equidepth_hist" -> ((s, dir) => {
      val d = Tables.docs(s, dir).select("doc_id", "n_chars")
      val r = graft.core.Ranker.withRank(d, "rn", col("n_chars"),
        col("doc_id"))
      r.crossJoin(broadcast(r.agg(count(lit(1)).as("n"))))
        .groupBy(expr("(rn * 10) div n").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
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

  /** SRP 4×4 band chain over embeddings (seed 42, dims 64) ending at
    * `cand(vec_a, vec_b)` — the dd_embed_banded banding, restricted by the
    * caller's predicate downstream. */
  private[queries] val EmbBandSql =
    """bs AS (SELECT unnest(generate_series(0, 3)) AS band),
      |b AS (
      |  SELECT e.vec_id, e.embedding, bs.band,
      |    list_reduce(list_transform(generate_series(0, 3), j ->
      |      CASE WHEN
      |        list_reduce(list_transform(generate_series(0, 63), i ->
      |          e.embedding[i + 1]::DOUBLE *
      |          (CASE WHEN (('0x' || substr(md5(concat_ws(':', 'plane', '42', (bs.band * 4 + j)::VARCHAR, i::VARCHAR)), 1, 8))::BIGINT
      |                      / CAST(4294967296.0 AS DOUBLE)) >= 0.5
      |                THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)),
      |          (a, b) -> a + b) > 0.0
      |      THEN (1 << j) ELSE 0 END), (a, b) -> a + b) AS key
      |  FROM embeddings e CROSS JOIN bs),
      |cand AS (
      |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      |  FROM b x JOIN b y ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id)""".stripMargin

  def oracles: Map[String, String] = Map(

    "text_js_divergence" ->
      """WITH ta AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents WHERE lang = 'en'),
        |tb AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents WHERE lang = 'de'),
        |ca AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS b,
        |  count(*)::BIGINT AS c FROM ta GROUP BY 1),
        |cb AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS b,
        |  count(*)::BIGINT AS c FROM tb GROUP BY 1),
        |j AS (SELECT coalesce(ca.b, cb.b) AS b, coalesce(ca.c, 0) AS ca,
        |  coalesce(cb.c, 0) AS cb FROM ca FULL JOIN cb ON ca.b = cb.b),
        |t AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM j),
        |x AS (SELECT CAST(floor((
        |    CASE WHEN ca > 0 THEN 0.5 * (ca::DOUBLE / na) *
        |      ln((ca::DOUBLE / na) / (((ca::DOUBLE / na) + (cb::DOUBLE / nb)) / 2))
        |    ELSE 0.0 END +
        |    CASE WHEN cb > 0 THEN 0.5 * (cb::DOUBLE / nb) *
        |      ln((cb::DOUBLE / nb) / (((ca::DOUBLE / na) + (cb::DOUBLE / nb)) / 2))
        |    ELSE 0.0 END) * 1e9) AS BIGINT) AS t9, na, nb
        |  FROM j CROSS JOIN t)
        |SELECT round(sum(t9)::DOUBLE / 1e9, 6) AS js_nats,
        |  count(*)::BIGINT AS n_buckets,
        |  max(na) AS tokens_a, max(nb) AS tokens_b
        |FROM x""".stripMargin,

    "ml_knn_classify" ->
      s"""WITH s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos
         |  FROM embeddings c CROSS JOIN
         |    (SELECT * FROM embeddings WHERE vec_id < 20) q
         |  WHERE c.vec_id <> q.vec_id),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) - 1 AS rank FROM s),
         |v AS (
         |  SELECT r.query_id, e.label AS pred_label, count(*)::BIGINT AS votes
         |  FROM r JOIN embeddings e ON e.vec_id = r.neighbor_id
         |  WHERE r.rank < 5 GROUP BY 1, 2),
         |a AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY votes DESC, pred_label) AS rn FROM v)
         |SELECT query_id, pred_label, votes FROM a WHERE rn = 1""".stripMargin,

    "dd_incremental_embed" ->
      s"""WITH $EmbBandSql,
         |s AS (
         |  SELECT c.vec_a, c.vec_b,
         |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_a
         |  JOIN embeddings eb ON eb.vec_id = c.vec_b
         |  WHERE (c.vec_a % 2 = 1 OR c.vec_b % 2 = 1))
         |SELECT vec_a, vec_b, cos FROM s WHERE cos >= 0.4""".stripMargin,

    "a1_equidepth_hist" ->
      """WITH r AS (SELECT n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rn,
        |    count(*) OVER () AS n
        |  FROM documents)
        |SELECT (rn * 10) // n AS bucket, count(*)::BIGINT AS n_docs,
        |  min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars
        |FROM r GROUP BY 1""".stripMargin
  )
}
