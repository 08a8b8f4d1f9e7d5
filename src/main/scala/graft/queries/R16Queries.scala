package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{LayoutOps, SimilarityOps, SketchOps, TextOps}

/** Round-16: wires the sketch tier (HDR histogram/quantiles, count-min)
  * and the hybrid-retrieval tier (token-overlap lexical ranks, RRF fusion)
  * into the oracle gate, plus the lake-seam mergeability proof — per-commit
  * CMS partials merged across [[LayoutOps.lakeTail]] deltas must equal the
  * direct whole-corpus sketch hash-exactly, which is the property that
  * makes a sketch usable at 100 TB (partials stream in; history never
  * re-scans).
  *
  * Every sketch hash is md5-derived and every quantile rank is integer
  * arithmetic, so all oracles here are hash-exact SQL replays — no
  * tolerance rows.
  */
object R16Queries extends QuerySet {

  /** Shared token stream for the CMS queries: one whitespace token per
    * row, the "approximate token frequency" use case. */
  private def tokStream(s: SparkSession, dir: String): DataFrame =
    Tables.docs(s, dir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))

  /** Probe set for [[SketchOps.cmsEstimate]]: three real tokens plus one
    * never in the corpus — the n_est = 0 path the left-join fix exists
    * for. */
  private val CmsProbes = Seq("join", "scan", "the", "zz_unseen")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // HDR log-linear histogram of document lengths: bounded bucket table
    // (≤ 64·2^5 rows at subBits=4) from one map-side-combined aggregation;
    // integer msb arithmetic makes the oracle replay engine-exact.
    "sketch_hdr_hist" -> ((s, dir) =>
      SketchOps.hdrHistogram(Tables.docs(s, dir), col("n_chars"),
        subBits = 4)),

    // Quantiles from the bucket table: exact-rational ranks, two-phase
    // Ranker cumsum (no O(B^2) self-join, no single-partition window);
    // the rank-th value provably lies in [est_lb, est_ub] and the oracle
    // replays the whole selection hash-exactly.
    "sketch_hdr_quantiles" -> ((s, dir) =>
      SketchOps.hdrQuantiles(Tables.docs(s, dir), col("n_chars"),
        subBits = 4,
        quantiles = Seq((1, 2), (9, 10), (99, 100), (1, 1)))),

    // Count-min grid over the corpus token stream: depth×width counters,
    // one aggregation, md5 slot hashes ⇒ hash-exact replay.
    "sketch_cms_grid" -> ((s, dir) =>
      SketchOps.cmsSketch(tokStream(s, dir), col("tok"),
        depth = 4, width = 64)),

    // Point estimates incl. a never-seen probe (n_est must be 0, not a
    // dropped row): est ≥ exact is baked into the compared output as
    // ok_ge_exact, alongside the exact count it dominates.
    "sketch_cms_estimate" -> ((s, dir) => {
      val toks = tokStream(s, dir)
      val sketch = SketchOps.cmsSketch(toks, col("tok"),
        depth = 4, width = 64)
      val probes = s.range(1)
        .select(explode(array(CmsProbes.map(lit): _*)).as("item"))
      val est = SketchOps.cmsEstimate(sketch, probes, col("item"),
        depth = 4, width = 64)
      val exact = toks.groupBy(col("tok").as("item"))
        .agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("item"), "left")
        .select(col("item"), col("n_est"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          (col("n_est") >= coalesce(col("n_exact"), lit(0L)))
            .as("ok_ge_exact"))
    }),

    // Lexical top-10 by distinct-token overlap for 5 query docs — the
    // sparse half of hybrid retrieval; query tokens broadcast, corpus
    // never shuffles for the match.
    "text_overlap_topk" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      TextOps.tokenOverlapTopK(d, col("doc_id"), col("text"),
        d.where(col("doc_id") < 5), col("doc_id"), col("text"), k = 10)
    }),

    // RRF ensemble of two dense rankers (exact brute-force ⊕ LSH-bucketed
    // approximate) for the same 5 queries — absent-from-one-list
    // candidates take the full-outer 0-contribution path.
    "sim_rrf_fuse" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val exact = SimilarityOps.bruteTopK(e, col("embedding"),
        col("vec_id"), e.where(col("vec_id") < 5), col("embedding"),
        col("vec_id"), k = 10)
      val approx = SimilarityOps.lshTopK(e, col("embedding"),
        col("vec_id"), dims = 64, planes = 8, seed = 42L, k = 10)
        .where(col("query_id") < 5)
      SimilarityOps.rrfFuse(exact, approx, k = 10)
    }),

    // End-to-end hybrid retrieval — the serving shape: lexical
    // token-overlap ranks ⊕ dense cosine ranks, RRF-fused per query,
    // one plan.  doc_id and vec_id share an id space in the testdata;
    // candidates found by only one side flow through the full outer.
    "sim_hybrid_topk" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val lex = TextOps.tokenOverlapTopK(d, col("doc_id"), col("text"),
        d.where(col("doc_id") < 5), col("doc_id"), col("text"), k = 10)
      val e = Tables.emb(s, dir)
      val dense = SimilarityOps.bruteTopK(e, col("embedding"),
        col("vec_id"), e.where(col("vec_id") < 5), col("embedding"),
        col("vec_id"), k = 10)
      SimilarityOps.rrfFuse(lex, dense, k = 10)
    }),

    // Mergeability at the lake seam: documents arrive as 3 lake commits;
    // each lakeTail delta contributes a CMS partial grid (history never
    // re-scanned), partials merge by counter addition — and the merged
    // grid must equal the direct whole-corpus sketch, which is exactly
    // what the oracle's direct replay checks hash-exactly.
    "sketch_merge" -> ((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val lake = R9Queries.runTmp + "/skm_lake_" + tag
      val ckp = R9Queries.runTmp + "/skm_ckp_" + tag
      val parts = R9Queries.runTmp + "/skm_parts_" + tag
      if (LayoutOps.latestVersion(s, lake) < 0) {
        val d = Tables.docs(s, dir).select(col("doc_id"), col("text"))
        (0 until 3).foreach { k =>
          LayoutOps.commitAppend(d.where(col("doc_id") % 3 === k), lake)
          LayoutOps.lakeTail(s, lake, ckp) { (delta, _) =>
            SketchOps.cmsSketch(
              delta.select(explode(TextOps.tokens(col("text"))).as("tok")),
              col("tok"), depth = 4, width = 64)
              .write.mode("append").parquet(parts)
          }
        }
      }
      s.read.parquet(parts)
        .groupBy("row", "slot").agg(sum("n").as("n"))
    })
  )

  // Shared bucket expression fragments for the oracle replays.
  private val TokList =
    "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"

  private def cmsGridSql(src: String): String =
    s"""WITH toks AS (
       |  SELECT unnest($TokList) AS tok FROM $src
       |),
       |h AS (SELECT unnest(generate_series(0, 3)) AS row, tok FROM toks)
       |SELECT row,
       |  (('0x' || substr(md5(concat_ws('|', row, tok)), 1, 15))::BIGINT
       |    % 64) AS slot,
       |  count(*)::BIGINT AS n
       |FROM h GROUP BY 1, 2""".stripMargin

  /** The documents-length HDR bucketing, shared by hist + quantiles. */
  private val HdrBuckets =
    """SELECT (sh::BIGINT * 32 + (v >> sh)) AS bucket_id,
      |       ((v >> sh) << sh)::BIGINT AS lb,
      |       (((v >> sh) << sh) + ((1::BIGINT << sh) - 1))::BIGINT AS ub,
      |       count(*)::BIGINT AS n
      |FROM (
      |  SELECT v, greatest(0, length(bin(v)) - 1 - 4) AS sh
      |  FROM (SELECT n_chars::BIGINT AS v FROM documents))
      |GROUP BY 1, 2, 3""".stripMargin

  private[queries] val OverlapTopkSql =
    s"""WITH ct AS (
       |  SELECT doc_id AS neighbor_id, unnest(list_distinct($TokList)) AS tok
       |  FROM documents
       |),
       |qt AS (
       |  SELECT doc_id AS query_id, unnest(list_distinct($TokList)) AS tok
       |  FROM documents WHERE doc_id < 5
       |),
       |ov AS (
       |  SELECT query_id, neighbor_id, count(*)::BIGINT AS overlap
       |  FROM ct JOIN qt USING (tok)
       |  WHERE neighbor_id <> query_id
       |  GROUP BY 1, 2
       |),
       |lexr AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY overlap DESC, neighbor_id) - 1 AS rank
       |  FROM ov
       |)""".stripMargin

  private[queries] val BruteTopkSql =
    """bq AS (SELECT vec_id AS query_id, embedding AS qv
      |  FROM embeddings WHERE vec_id < 5),
      |bs AS (
      |  SELECT bq.query_id, e.vec_id AS neighbor_id,
      |    round(
      |      list_reduce(list_transform(list_zip(bq.qv, e.embedding),
      |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
      |      (sqrt(list_reduce(list_transform(bq.qv,
      |         x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
      |       sqrt(list_reduce(list_transform(e.embedding,
      |         x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
      |      6) AS cos
      |  FROM embeddings e CROSS JOIN bq
      |  WHERE e.vec_id <> bq.query_id
      |),
      |br AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, neighbor_id) - 1 AS rank
      |  FROM bs
      |)""".stripMargin

  /** RRF of two (query_id, neighbor_id, rank) CTEs, c = 60, top-10. */
  private def rrfSql(a: String, b: String): String =
    s"""f AS (
       |  SELECT coalesce(a.query_id, b.query_id) AS query_id,
       |    coalesce(a.neighbor_id, b.neighbor_id) AS neighbor_id,
       |    round(coalesce(1.0 / (60 + a.rank + 1), 0.0) +
       |          coalesce(1.0 / (60 + b.rank + 1), 0.0), 6) AS fused
       |  FROM (SELECT * FROM $a WHERE rank < 10) a
       |  FULL OUTER JOIN (SELECT * FROM $b WHERE rank < 10) b
       |    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
       |),
       |fr AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY fused DESC, neighbor_id) - 1 AS fused_rank
       |  FROM f
       |)
       |SELECT query_id, neighbor_id, fused, fused_rank
       |FROM fr WHERE fused_rank < 10""".stripMargin

  private[queries] val LshTopkSql =
    """lb AS (
      |  SELECT vec_id, embedding,
      |    list_reduce(list_transform(generate_series(0, 7), j ->
      |      CASE WHEN
      |        list_reduce(list_transform(generate_series(0, 63), i ->
      |          embedding[i + 1]::DOUBLE *
      |          (CASE WHEN (('0x' || substr(md5(concat_ws(':', 'plane',
      |                '42', j::VARCHAR, i::VARCHAR)), 1, 8))::BIGINT
      |                / CAST(4294967296.0 AS DOUBLE)) >= 0.5
      |                THEN CAST(1.0 AS DOUBLE)
      |                ELSE CAST(-1.0 AS DOUBLE) END)),
      |          (a, b) -> a + b) > 0.0
      |      THEN (1 << j) ELSE 0 END), (a, b) -> a + b) AS bucket
      |  FROM embeddings
      |),
      |ls AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(
      |      list_reduce(list_transform(list_zip(q.embedding, c.embedding),
      |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
      |      (sqrt(list_reduce(list_transform(q.embedding,
      |         x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
      |       sqrt(list_reduce(list_transform(c.embedding,
      |         x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
      |      6) AS cos
      |  FROM lb q JOIN lb c
      |    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      |),
      |lr0 AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, neighbor_id) - 1 AS rank
      |  FROM ls
      |),
      |lr AS (SELECT * FROM lr0 WHERE query_id < 5)""".stripMargin

  def oracles: Map[String, String] = Map(

    "sketch_hdr_hist" -> HdrBuckets,

    "sketch_hdr_quantiles" ->
      s"""WITH h AS ($HdrBuckets),
         |c AS (SELECT bucket_id, lb, ub,
         |    sum(n) OVER (ORDER BY bucket_id) AS cum FROM h),
         |t AS (SELECT sum(n)::BIGINT AS n_total FROM h),
         |q AS (SELECT * FROM (VALUES (1, 2), (9, 10), (99, 100), (1, 1))
         |  AS v(q_num, q_den)),
         |r AS (SELECT q_num, q_den,
         |    (q_num::BIGINT * n_total + q_den - 1) // q_den AS rank,
         |    n_total
         |  FROM q, t)
         |SELECT round(r.q_num::DOUBLE / r.q_den, 6) AS q, r.rank,
         |  r.n_total, min(c.lb)::BIGINT AS est_lb, min(c.ub)::BIGINT AS est_ub
         |FROM r JOIN c ON c.cum >= r.rank
         |GROUP BY 1, 2, 3""".stripMargin,

    "sketch_cms_grid" -> cmsGridSql("documents"),

    "sketch_cms_estimate" ->
      s"""WITH g AS (${cmsGridSql("documents")}),
         |p0 AS (SELECT unnest(['join', 'scan', 'the', 'zz_unseen'])
         |  AS item),
         |pr AS (SELECT item, unnest(generate_series(0, 3)) AS row FROM p0),
         |ph AS (SELECT item, row,
         |  (('0x' || substr(md5(concat_ws('|', row, item)), 1, 15))::BIGINT
         |    % 64) AS slot
         |  FROM pr),
         |est AS (
         |  SELECT item, min(coalesce(g.n, 0))::BIGINT AS n_est
         |  FROM ph LEFT JOIN g USING (row, slot)
         |  GROUP BY 1
         |),
         |ex AS (
         |  SELECT tok AS item, count(*)::BIGINT AS n_exact
         |  FROM (SELECT unnest($TokList) AS tok FROM documents)
         |  GROUP BY 1
         |)
         |SELECT est.item, est.n_est,
         |  coalesce(ex.n_exact, 0)::BIGINT AS n_exact,
         |  est.n_est >= coalesce(ex.n_exact, 0) AS ok_ge_exact
         |FROM est LEFT JOIN ex USING (item)""".stripMargin,

    "text_overlap_topk" ->
      s"""$OverlapTopkSql
         |SELECT query_id, neighbor_id, overlap, rank
         |FROM lexr WHERE rank < 10""".stripMargin,

    "sim_rrf_fuse" ->
      s"""WITH $BruteTopkSql,
         |$LshTopkSql,
         |${rrfSql("br", "lr")}""".stripMargin,

    "sim_hybrid_topk" ->
      s"""$OverlapTopkSql,
         |$BruteTopkSql,
         |${rrfSql("lexr", "br")}""".stripMargin,

    // merged-partials grid must equal the direct whole-corpus sketch
    "sketch_merge" -> cmsGridSql("documents")
  )
}
