package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Vector and sketch similarity: exact and approximate top-k (IVF, PQ,
  * LSH, random projection), kNN joins, embedding near-duplicates, and
  * count/quantile sketches.  Names: `sim`, `emb`, `sketch`.  [[cosSql]],
  * [[pqCodebooks]] and [[kOf]] are the one copy of the cosine SQL mirror,
  * the product-quantizer codebooks and the IVF cell-count rule. */
object SimilarityQueries extends QuerySet {

  import Tables.emb
  import TextQueries.toksSql

  /** The `sim_ivf_topk` oracle, shared with the queries that wrap it. */
  private lazy val SimIvfTopkSql: String =
    s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      |asg0 AS (
      |  SELECT e.vec_id AS neighbor_id, c.centroid_id,
      |    ${cosSql("e.embedding", "c.cv")} AS acos
      |  FROM embeddings e CROSS JOIN c
      |),
      |asg AS (
      |  SELECT neighbor_id, centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY acos DESC, centroid_id) AS rn
      |    FROM asg0) WHERE rn = 1
      |),
      |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id >= 8 AND vec_id < 13),
      |qp0 AS (
      |  SELECT q.query_id, q.qv, c.centroid_id,
      |    ${cosSql("q.qv", "c.cv")} AS ccos
      |  FROM q CROSS JOIN c
      |),
      |qp AS (
      |  SELECT query_id, qv, centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, centroid_id) AS rn
      |    FROM qp0) WHERE rn <= 2
      |),
      |s AS (
      |  SELECT qp.query_id, a.neighbor_id,
      |    ${cosSql("qp.qv", "e.embedding")} AS cos
      |  FROM asg a
      |  JOIN qp ON a.centroid_id = qp.centroid_id
      |  JOIN embeddings e ON e.vec_id = a.neighbor_id
      |  WHERE a.neighbor_id <> qp.query_id
      |),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) - 1 AS rank
      |  FROM s
      |)
      |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank < 10""".stripMargin

  /** Fixed PQ codebooks: per subspace, the vec_id < 4 slices (code_id =
    * vec_id) — deterministic, so DuckDB replays the encoding exactly. */
  private def pqCodebooks(s: SparkSession, dir: String): DataFrame =
    Tables.emb(s, dir).where(col("vec_id") < 4)
      .select(col("vec_id").as("code_id"), col("embedding").as("e"))
      .select(explode(sequence(lit(0), lit(3))).as("sub"), col("code_id"),
        col("e"))
      .select(col("sub"), col("code_id"),
        slice(col("e"), col("sub") * 16 + 1, lit(16)).as("cv"))

  /** The squared distance ‖a‖² + ‖b‖² − 2·a·b of embedding `e`'s
    * subspace slice `c.sub` to codeword `c.cv`, 6-dp rounded, with the same
    * sequential folds as the Spark kernels. */
  private val PqSubDistSql =
    """round(
      |      list_reduce(list_transform(e.embedding[c.sub*16+1 : c.sub*16+16],
      |        x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y) +
      |      list_reduce(list_transform(c.cv,
      |        x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y) -
      |      2 * list_reduce(list_transform(
      |        list_zip(e.embedding[c.sub*16+1 : c.sub*16+16], c.cv),
      |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y),
      |      6)""".stripMargin

  /** PQ encoding CTE prefix: subspace codebooks (vec_id < 4 slices) and
    * per-(vector, subspace, code) squared distances. */
  private val PqEncSql =
    s"""subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
      |cb AS (
      |  SELECT s.sub, e.vec_id AS code_id,
      |    e.embedding[s.sub*16+1 : s.sub*16+16] AS cv
      |  FROM embeddings e CROSS JOIN subs s
      |  WHERE e.vec_id < 4),
      |enc AS (
      |  SELECT e.vec_id, c.sub, c.code_id,
      |    $PqSubDistSql AS d
      |  FROM embeddings e CROSS JOIN cb c)""".stripMargin

  /** PQ CTEs after [[PqEncSql]]: each vector's nearest code per subspace
    * (`codes`) and the per-query lookup table `lutq` (vec_id < 10). */
  private val PqCodesLutSql =
    s"""codes AS (
      |  SELECT vec_id, sub, arg_min(code_id, (round(d * 1000000))::BIGINT * 10 + code_id) AS code
      |  FROM enc GROUP BY vec_id, sub),
      |lutq AS (
      |  SELECT e.vec_id AS query_id, c.sub, c.code_id,
      |    $PqSubDistSql AS ld
      |  FROM embeddings e CROSS JOIN cb c WHERE e.vec_id < 10)""".stripMargin

  /** The ADC ranking `rk(query_id, vec_id, adist, rank)` over `ap`. */
  private val PqRankSql =
    """rk AS (
      |  SELECT query_id, vec_id, adist,
      |    row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) - 1 AS rank
      |  FROM ap)""".stripMargin

  /** JL projection CTE prefix: per-(vector, output-dim) signed dot against
    * the md5 (seed=42) plane convention of the LSH oracles, scaled by
    * 1/√16 = 0.25 exactly, plus the packed per-vector array form. */
  private val RpSql =
    s"""js AS (SELECT unnest(generate_series(0, 15)) AS j),
      |rp AS (
      |  SELECT e.vec_id, js.j,
      |    round(${srpProjSql("e.embedding", "js.j")} * 0.25, 6) AS val
      |  FROM embeddings e CROSS JOIN js),
      |rv AS (
      |  SELECT vec_id, list(val ORDER BY j) AS rvec FROM rp GROUP BY vec_id)""".stripMargin

  /** Top-5 ranking over `rv` rvec arrays — the sim_topk oracle shape. */
  private val RpTopkSql =
    s"""s AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ${cosSql("q.rvec", "c.rvec")} AS cos
      |  FROM rv c CROSS JOIN (SELECT * FROM rv WHERE vec_id < 10) q
      |  WHERE c.vec_id <> q.vec_id),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) - 1 AS rank
      |  FROM s)""".stripMargin

  /** SQ CTE prefix: per-dim exact bounds and int8 codes. */
  private val SqSql =
    """js AS (SELECT unnest(generate_series(0, 63)) AS j),
      |ev AS (
      |  SELECT e.vec_id, js.j, e.embedding[js.j + 1]::DOUBLE AS v
      |  FROM embeddings e CROSS JOIN js),
      |bd AS (SELECT j, min(v) AS mn, max(v) AS mx FROM ev GROUP BY j),
      |codes AS (
      |  SELECT vec_id, j::BIGINT AS j,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE round((v - mn) * 255.0 / (mx - mn), 0)::BIGINT END AS code
      |  FROM ev JOIN bd USING (j))""".stripMargin

  /** IVF-PQ oracle CTE: cell assignment (fixed centroids vec_id < 8), PQ
    * codes (vec_id < 4 slice codebooks), probe selection, per-query LUT,
    * pruned ADC sum — ends at `rk`. */
  private val IvfPqSql =
    s"""ct AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      |sc AS (
      |  SELECT e.vec_id, ct.centroid_id,
      |    ${cosSql("e.embedding", "ct.cv")} AS ccos
      |  FROM embeddings e CROSS JOIN ct),
      |asg AS (
      |  SELECT vec_id, centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
      |    FROM sc) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
      |    FROM sc WHERE vec_id < 10) WHERE rn <= 2),
      |$PqEncSql,
      |$PqCodesLutSql,
      |ap AS (
      |  SELECT l.query_id, cd.vec_id, round(sum(l.ld), 6) AS adist
      |  FROM codes cd
      |  JOIN asg a ON a.vec_id = cd.vec_id
      |  JOIN probes p ON p.centroid_id = a.centroid_id
      |  JOIN lutq l ON l.query_id = p.query_id AND l.sub = cd.sub AND l.code_id = cd.code
      |  WHERE cd.vec_id <> l.query_id
      |  GROUP BY 1, 2),
      |$PqRankSql""".stripMargin

  /** The `sim_ivfpq_topk` oracle, shared with the queries that wrap it. */
  private lazy val SimIvfpqTopkSql: String =
    s"""WITH $IvfPqSql
       |SELECT query_id, vec_id AS neighbor_id, adist, rank::BIGINT AS rank
       |FROM rk WHERE rank < 5""".stripMargin

  /** 6-dp rounded cosine of two DuckDB list expressions — the SQL mirror
    * of [[graft.ops.SimilarityOps.cosine]] (sequential left fold from 0.0
    * in index order, dot / (sqrt·sqrt), then round). */
  private[queries] def cosSql(a: String, b: String): String =
    s"""round(
       |      list_reduce(list_transform(list_zip($a, $b),
       |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
       |      (sqrt(list_reduce(list_transform($a, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
       |       sqrt(list_reduce(list_transform($b, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
       |      6)""".stripMargin

  /** The signed projection of the 64-dim embedding `v` onto SRP plane
    * `plane` (seed 42): each coordinate times ±1 by the md5 of
    * (seed, plane, i), summed in index order — the SQL mirror of
    * [[graft.ops.SimilarityOps.planeProjection]]. */
  private[queries] def srpProjSql(v: String, plane: String): String =
    s"""list_reduce(list_transform(generate_series(0, 63), i ->
       |          $v[i + 1]::DOUBLE *
       |          (CASE WHEN (('0x' || substr(md5(concat_ws(':', 'plane', '42', $plane::VARCHAR, i::VARCHAR)), 1, 8))::BIGINT
       |                      / CAST(4294967296.0 AS DOUBLE)) >= 0.5
       |                THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)),
       |          (a, b) -> a + b)""".stripMargin

  /** The `bits`-bit SRP key of `v`: bit j set when the projection onto
    * plane `plane` (an expression over j) is positive — the SQL mirror of
    * [[graft.ops.SimilarityOps.lshBucket]]. */
  private[queries] def srpKeySql(v: String, bits: Int, plane: String = "j"): String =
    s"""list_reduce(list_transform(generate_series(0, ${bits - 1}), j ->
       |      CASE WHEN
       |        ${srpProjSql(v, plane)} > 0.0
       |      THEN (1 << j) ELSE 0 END), (a, b) -> a + b)""".stripMargin

  /** The `emb_gram` oracle: the exact micro-unit Gram sums (upper
    * triangle), the column sums as row 0 and the count at (0, 0). */
  private val EmbGramSql =
    """WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |    unnest(embedding)::DOUBLE AS v FROM embeddings),
      |q AS (SELECT a.i::INT AS i, b.i::INT AS j,
      |    sum(floor(a.v * b.v * 1000000000000.0)::BIGINT)::BIGINT AS q
      |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY 1, 2),
      |s AS (SELECT 0::INT AS i, i::INT AS j,
      |    sum(floor(v * 1000000000.0)::BIGINT)::BIGINT AS q
      |  FROM x GROUP BY 2),
      |n AS (SELECT 0::INT AS i, 0::INT AS j, count(*)::BIGINT AS q
      |  FROM embeddings)
      |SELECT i, j, q FROM q
      |UNION ALL SELECT i, j, q FROM s
      |UNION ALL SELECT i, j, q FROM n""".stripMargin

  /** Oracle CTE body: `m(label, dim, m)`, every embedding coordinate in
    * floored micro-units with its label and 0-based dim. */
  private val LabelDimCte =
    """x AS (
      |  SELECT label::BIGINT AS label,
      |         unnest(generate_series(1, len(embedding))) AS i,
      |         embedding AS e
      |  FROM embeddings
      |),
      |m AS (
      |  SELECT label, CAST(i - 1 AS BIGINT) AS dim,
      |         CAST(floor(e[i]::DOUBLE * 1000000.0) AS BIGINT) AS m
      |  FROM x
      |)""".stripMargin

  /** Oracle CTE body: every vector ranked by cosine to each query vec_id
    * < 10 (`s`), 0-based `rank` per query in `r`. */
  private val QueryRankCte =
    s"""s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings c CROSS JOIN
       |    (SELECT * FROM embeddings WHERE vec_id < 10) q
       |  WHERE c.vec_id <> q.vec_id),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) - 1 AS rank FROM s)""".stripMargin

  /** Recall@5 tail over the approximate top-5 `appx(query_id,
    * neighbor_id)`: the exact cosine top-5 of each query vec_id < 10 and
    * each query's hits and recall against it. */
  private val Recall5Sql =
    s"""es AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "e.embedding")} AS cos
       |  FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
       |  WHERE e.vec_id <> q.vec_id),
       |er AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) - 1 AS rank
       |  FROM es),
       |exact AS (SELECT query_id, neighbor_id FROM er WHERE rank < 5)
       |SELECT e.query_id,
       |  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
       |  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 5.0 AS recall
       |FROM exact e LEFT JOIN appx a USING (query_id, neighbor_id)
       |GROUP BY e.query_id""".stripMargin

  /** Two-level routing CTE body over fine centroids `c(centroid_id, cv)`
    * and coarse centroids `g(coarse_id, gv)`: each fine centroid's 3
    * nearest coarse routes (`routes0`) plus each coarse centroid's
    * identity route, in `routes(coarse_id, centroid_id, cv)`. */
  private val RouteCte =
    s"""routes0 AS (
       |  SELECT coarse_id, centroid_id, cv FROM (
       |    SELECT c.centroid_id, c.cv, g.coarse_id,
       |      row_number() OVER (PARTITION BY c.centroid_id ORDER BY
       |        ${cosSql("c.cv", "g.gv")} DESC, g.coarse_id) AS rn
       |    FROM c CROSS JOIN g) WHERE rn <= 3),
       |routes AS (
       |  SELECT coarse_id, centroid_id, cv FROM routes0
       |  UNION
       |  SELECT coarse_id, coarse_id AS centroid_id, gv AS cv FROM g)""".stripMargin

  /** kNN-join CTE body over centroids `c`: each vector's embedding `nv`
    * and cosine `acos` to every centroid (`asg0`) and its cell (`asg`). */
  private val KnnAsgCte =
    s"""asg0 AS (
       |  SELECT e.vec_id AS neighbor_id, e.embedding AS nv, c.centroid_id,
       |    ${cosSql("e.embedding", "c.cv")} AS acos
       |  FROM embeddings e CROSS JOIN c
       |),
       |asg AS (
       |  SELECT neighbor_id, nv, centroid_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY acos DESC, centroid_id) AS rn
       |    FROM asg0) WHERE rn = 1
       |)""".stripMargin

  /** kNN-join tail over `asg` and the probed cells `qp(query_id, qv,
    * centroid_id)`: the top-3 neighbours by cosine within the probes. */
  private val KnnTopSql =
    s"""s AS (
       |  SELECT qp.query_id, a.neighbor_id,
       |    ${cosSql("qp.qv", "a.nv")} AS cos
       |  FROM asg a JOIN qp ON a.centroid_id = qp.centroid_id
       |  WHERE a.neighbor_id <> qp.query_id
       |),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) - 1 AS rank
       |  FROM s
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank < 3""".stripMargin

  /** Hard-negative candidates (no `WITH`): [[KnnJoinSql]]'s flat cell
    * assignment and 2-probe selection over 32 centroids, carrying labels,
    * ending at `s(query_id, neighbor_id, cos)` over different-label pairs. */
  private[queries] val HardNegCandSql =
    s"""c AS (SELECT vec_id AS centroid_id, embedding AS cv
       |  FROM embeddings WHERE vec_id < 32),
       |asg0 AS (
       |  SELECT e.vec_id AS neighbor_id, e.embedding AS nv,
       |    e.label AS nl, c.centroid_id,
       |    ${cosSql("e.embedding", "c.cv")} AS acos
       |  FROM embeddings e CROSS JOIN c
       |),
       |asg AS (
       |  SELECT neighbor_id, nv, nl, centroid_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY neighbor_id
       |      ORDER BY acos DESC, centroid_id) AS rn
       |    FROM asg0) WHERE rn = 1
       |),
       |qp AS (
       |  SELECT neighbor_id AS query_id, nv AS qv, nl AS ql,
       |    centroid_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY neighbor_id
       |      ORDER BY acos DESC, centroid_id) AS rn
       |    FROM asg0) WHERE rn <= 2
       |),
       |s AS (
       |  SELECT qp.query_id, a.neighbor_id,
       |    ${cosSql("qp.qv", "a.nv")} AS cos
       |  FROM asg a JOIN qp ON a.centroid_id = qp.centroid_id
       |  WHERE a.neighbor_id <> qp.query_id AND a.nl <> qp.ql
       |)""".stripMargin

  /** kNN-join mirror (self-join form over embeddings, 32 fixed centroids,
    * nprobe=2, k=3): cell assignment AND probe selection = rank over ALL
    * centroids (the flat pass); shared by `sim_knn_join` and its
    * persisted-index layout twin. */
  private lazy val KnnJoinSql: String =
    s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 32),
       |$KnnAsgCte,
       |qp AS (
       |  SELECT neighbor_id AS query_id, nv AS qv, centroid_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY acos DESC, centroid_id) AS rn
       |    FROM asg0) WHERE rn <= 2
       |),
       |$KnnTopSql""".stripMargin

  /** The ROUTED kNN-join mirror (`sim_knn_join_routed`): cell assignment
    * = flat rank-1 (as built/persisted), probe selection = the TWO-LEVEL
    * route the Spark side runs (coarse = first-6 centroid prefix,
    * routeProbe=3 forward routes + identity routes, rank-1 coarse pick
    * per query, top-2 fine probes among the routed candidates only). */
  private lazy val KnnJoinRoutedSql: String =
    s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 32),
       |g AS (SELECT vec_id AS coarse_id, embedding AS gv FROM embeddings WHERE vec_id < 6),
       |$KnnAsgCte,
       |$RouteCte,
       |v2c AS (
       |  SELECT query_id, qv, coarse_id FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS qv, g.coarse_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e.embedding", "g.gv")} DESC, g.coarse_id) AS rn
       |    FROM embeddings e CROSS JOIN g) WHERE rn = 1),
       |qp AS (
       |  SELECT query_id, qv, centroid_id FROM (
       |    SELECT v.query_id, v.qv, r.centroid_id,
       |      row_number() OVER (PARTITION BY v.query_id ORDER BY
       |        ${cosSql("v.qv", "r.cv")} DESC, r.centroid_id) AS rn
       |    FROM v2c v JOIN routes r ON r.coarse_id = v.coarse_id) WHERE rn <= 2
       |),
       |$KnnTopSql""".stripMargin

  /** The hybrid-retrieval rank lists of queries 0–4, top 10 each: lexical
    * token overlap over the documents and exact dense cosine over the
    * embeddings, with the embeddings frame between them. */
  private def hybridLists(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val d = Tables.docs(s, dir)
    val lex = TextOps.tokenOverlapTopK(d, col("doc_id"), col("text"),
      d.where(col("doc_id") < 5), col("doc_id"), col("text"), k = 10)
    val e = Tables.emb(s, dir)
    val dense = SimilarityOps.bruteTopK(e, col("embedding"),
      col("vec_id"), e.where(col("vec_id") < 5), col("embedding"),
      col("vec_id"), k = 10)
    (lex, e, dense)
  }

  /** k = ⌈n/64⌉ floor 8 — same convention as `DedupQueries.ivfClusters`. */
  private def kOf(n: Long): Long =
    math.max(8L, math.ceil(n / 64.0).toLong)

  /** Shared token stream for the CMS queries: one whitespace token per
    * row, the "approximate token frequency" use case. */
  private def tokStream(s: SparkSession, dir: String): DataFrame =
    Tables.docs(s, dir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))

  /** Probe set for [[SketchOps.cmsEstimate]]: three real tokens plus one
    * never in the corpus — the n_est = 0 path the left-join fix exists
    * for. */
  private val CmsProbes = Seq("join", "scan", "the", "zz_unseen")

  private def cmsGridSql(src: String): String =
    s"""WITH toks AS (
       |  SELECT unnest(${toksSql("text")}) AS tok FROM $src
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
       |  SELECT doc_id AS neighbor_id, unnest(list_distinct(${toksSql("text")})) AS tok
       |  FROM documents
       |),
       |qt AS (
       |  SELECT doc_id AS query_id, unnest(list_distinct(${toksSql("text")})) AS tok
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

  private val BruteTopkSql =
    s"""bq AS (SELECT vec_id AS query_id, embedding AS qv
      |  FROM embeddings WHERE vec_id < 5),
      |bs AS (
      |  SELECT bq.query_id, e.vec_id AS neighbor_id,
      |    ${cosSql("bq.qv", "e.embedding")} AS cos
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

  private val LshTopkSql =
    s"""lb AS (
      |  SELECT vec_id, embedding,
      |    ${srpKeySql("embedding", 8)} AS bucket
      |  FROM embeddings
      |),
      |ls AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ${cosSql("q.embedding", "c.embedding")} AS cos
      |  FROM lb q JOIN lb c
      |    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      |),
      |lr0 AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, neighbor_id) - 1 AS rank
      |  FROM ls
      |),
      |lr AS (SELECT * FROM lr0 WHERE query_id < 5)""".stripMargin

  private val GroupedBuckets =
    """SELECT grp, (sh::BIGINT * 32 + (v >> sh)) AS bucket_id,
      |       ((v >> sh) << sh)::BIGINT AS lb,
      |       (((v >> sh) << sh) + ((1::BIGINT << sh) - 1))::BIGINT AS ub,
      |       count(*)::BIGINT AS n
      |FROM (
      |  SELECT lang AS grp, n_chars::BIGINT AS v,
      |    greatest(0, length(bin(n_chars::BIGINT)) - 1 - 4) AS sh
      |  FROM documents)
      |GROUP BY 1, 2, 3, 4""".stripMargin

  // the shared 6-dp cosine grammar — same helper as every other cosine
  // oracle in the bank, so the fold/rounding can never drift per-file
  private val CosSql = cosSql("q.qv", "e.embedding")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Similarity: exact brute-force top-10 cosine neighbours of 5 queries
    "sim_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.bruteTopK(e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 5), col("embedding"), col("vec_id"), k = 10)
    }),

    // Similarity: random-hyperplane LSH buckets (the ANN scale path)
    "sim_lsh_buckets" -> ((s, dir) =>
      SimilarityOps.lshBuckets(emb(s, dir), col("embedding"), col("vec_id"),
        dims = 64, planes = 8, seed = 42L)),

    // IVF coarse quantizer assignment: nearest-centroid by cosine (the ANN
    // partition key at scale; centroids broadcast)
    "sim_ivf_assign" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.ivfAssign(e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 8), col("embedding"), col("vec_id"))
    }),

    // ANN scale path end-to-end: exact cosine ranking restricted to LSH
    // buckets (candidates only — the cross product never materializes)
    "sim_lsh_topk" -> ((s, dir) =>
      SimilarityOps.lshTopK(emb(s, dir), col("embedding"), col("vec_id"),
        dims = 64, planes = 8, seed = 42L, k = 5)),

    // IVF search end-to-end: each query probes its 2 nearest centroids'
    // cells, exact cosine rank within the probed cells only
    "sim_ivf_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.ivfTopK(e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 8), col("embedding"), col("vec_id"),
        e.where(col("vec_id") >= 8 && col("vec_id") < 13),
        col("embedding"), col("vec_id"),
        k = 10, nprobe = 2)
    }),

    // Exact per-label embedding centroids (micro-unit integer sums — order-
    // independent, oracle-reproducible)
    "emb_centroids" -> ((s, dir) =>
      EmbedOps.centroids(emb(s, dir), col("embedding"),
        col("label").cast("long"))),

    // Persisted IVF index: corpus written partitioned by coarse cell, then
    // searched — identical semantics (and oracle) to sim_ivf_topk, but the
    // scan prunes to the probed cells' partition directories
    "sim_ivf_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      // under the per-run scratch root (no cross-process races); the full
      // sanitized dir keeps distinct data dirs from colliding within a run
      val idx = Tables.scratch(dir, "ivf_index")
      IndexBuilds.once(s"sim_ivf_persisted:$dir") {
        SimilarityOps.ivfIndexWrite(e, col("embedding"), col("vec_id"),
          e.where(col("vec_id") < 8), col("embedding"), col("vec_id"), idx)
      }
      // the drift-proof overload: probes with the index's OWN quantizer
      SimilarityOps.ivfSearchIndex(s, idx,
        e.where(col("vec_id") >= 8 && col("vec_id") < 13),
        col("embedding"), col("vec_id"), k = 10, nprobe = 2)
    }),

    // Product-quantization codes: 4 subspaces × 16 dims, fixed codebooks
    // (vec_id < 4 slices — the sim_ivf_assign convention, SQL-replayable)
    "sim_pq_codes" -> ((s, dir) =>
      graft.ops.SimilarityOps.pqEncode(Tables.emb(s, dir),
        col("embedding"), col("vec_id"), pqCodebooks(s, dir),
        m = 4, subDim = 16)),

    // PQ asymmetric-distance top-5 for queries vec_id < 10: corpus side
    // is codes-only against the broadcast query LUT
    "sim_pq_topk" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val codes = graft.ops.SimilarityOps.pqEncode(e, col("embedding"),
        col("vec_id"), pqCodebooks(s, dir), m = 4, subDim = 16)
        .select("vec_id", "sub", "code")
      graft.ops.SimilarityOps.pqTopK(codes, pqCodebooks(s, dir),
        e.where(col("vec_id") < 10), col("embedding"), col("vec_id"),
        k = 5, m = 4, subDim = 16)
    }),

    // JL random projection 64 → 16 dims (exploded (vec_id, j, val) rows)
    "sim_rp_project" -> ((s, dir) =>
      graft.ops.SimilarityOps.rpProject(Tables.emb(s, dir),
        col("embedding"), col("vec_id"), dims = 64, outDims = 16)),

    // Exact top-5 cosine in the 16-dim projected space, queries vec_id < 10
    "sim_rp_topk" -> ((s, dir) => {
      val rp = graft.ops.SimilarityOps.rpProjected(Tables.emb(s, dir),
        col("embedding"), col("vec_id"), dims = 64, outDims = 16)
      graft.ops.SimilarityOps.bruteTopK(rp, col("rvec"), col("vec_id"),
        rp.where(col("vec_id") < 10), col("rvec"), col("vec_id"), k = 5)
    }),

    // Scalar (int8) quantization codes on corpus per-dim bounds
    "sim_sq_codes" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      graft.ops.SimilarityOps.sqEncode(e, col("embedding"), col("vec_id"),
        graft.ops.SimilarityOps.sqBounds(e, col("embedding"), 64))
    }),

    // SQ asymmetric top-5: exact query floats vs reconstructed int8 corpus
    "sim_sq_topk" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val b = graft.ops.SimilarityOps.sqBounds(e, col("embedding"), 64)
      val codes = graft.ops.SimilarityOps.sqEncode(e, col("embedding"),
        col("vec_id"), b)
      graft.ops.SimilarityOps.sqTopK(codes, b,
        e.where(col("vec_id") < 10), col("embedding"), col("vec_id"), k = 5)
    }),

    // Recall@5 of the projected-space ranking against the exact 64-dim
    // ranking — the quality gauge for the JL scale path
    "sim_rp_recall" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val q = e.where(col("vec_id") < 10)
      val exact = graft.ops.SimilarityOps.bruteTopK(e, col("embedding"),
        col("vec_id"), q, col("embedding"), col("vec_id"), k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val rp = graft.ops.SimilarityOps.rpProjected(e,
        col("embedding"), col("vec_id"), dims = 64, outDims = 16)
      val approx = graft.ops.SimilarityOps.bruteTopK(rp, col("rvec"),
        col("vec_id"), rp.where(col("vec_id") < 10), col("rvec"),
        col("vec_id"), k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (col("n_hits").cast("double") / lit(5.0)).as("recall"))
    }),

    // IVF-PQ composed search: coarse cells (fixed centroids vec_id < 8)
    // prune to nprobe=2 cells per query; PQ ADC (4×16 codebooks, vec_id <
    // 4 slices) ranks within — corpus side is integers end to end
    "sim_ivfpq_topk" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val cb = pqCodebooks(s, dir)
      val codes = SimilarityOps.pqEncode(e, col("embedding"), col("vec_id"),
        cb, m = 4, subDim = 16).select("vec_id", "sub", "code")
      val cells = SimilarityOps.ivfAssign(e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 8), col("embedding"), col("vec_id"))
        .select("vec_id", "centroid_id")
      SimilarityOps.ivfPqTopK(codes, cells, cb,
        e.where(col("vec_id") < 8), col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 10), col("embedding"), col("vec_id"),
        k = 5, m = 4, subDim = 16, nprobe = 2)
    }),

    // Two-corpus kNN join (here: self-join form over the whole embeddings
    // table — every vector is a query): per-row probe selection against
    // the broadcast centroid array, shuffle join on centroid_id, top-3
    // per query within the probed cells
    // 32 coarse cells ≈ the √N IVF design point at sf0.1 (5000 vectors):
    // candidate pairs scale as N²·nprobe/cells, so cells must GROW with
    // the corpus — 8 cells was brute-force/4 and benched 4× slower
    "sim_knn_join" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      SimilarityOps.knnJoinIvf(e, col("embedding"), col("vec_id"),
        e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 32), col("embedding"), col("vec_id"),
        k = 3, nprobe = 2)
    }),

    // the TWO-LEVEL probe route (coarse = the first-6 centroid prefix,
    // routeProbe=3): per-left-row work 6 + ~16 scores instead of 32 —
    // the O(n·√k) recurring-cost path for corpus-proportional codebooks,
    // replayed exactly by its oracle (KnnJoinRoutedSql's v2c/routes
    // CTEs).  Registered separately from the flat form: at k=32 routing
    // has nothing to win (its fixed extra stages cost ~0.5 s), so the
    // flat plan stays the right default at this scale while the routed
    // plan is the one that survives k ∝ corpus (PERF_NOTES_r15.md §1) — both are
    // oracle-gated, neither changes semantics with data size.
    "sim_knn_join_routed" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      SimilarityOps.knnJoinIvf(e, col("embedding"), col("vec_id"),
        e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 32), col("embedding"), col("vec_id"),
        k = 3, nprobe = 2,
        coarse = Some(e.where(col("vec_id") < 6)), routeProbe = 3)
    }),

    // Semantic outlier pruning: cosine to the OWN-label exact centroid
    // (micro-unit integer sums), flag below 0.0 — the SemDeDup-style
    // prototype-distance gate
    "emb_outliers" -> ((s, dir) =>
      EmbedOps.centroidOutliers(Tables.emb(s, dir), col("embedding"),
        col("label").cast("long"), col("vec_id"), minCosine = 0.0)),

    // kNN join against a PERSISTED IVF index: right side pre-assigned and
    // pre-partitioned on centroid_id, probed with the index's own
    // quantizer — same output as sim_knn_join
    "sim_knn_join_persisted" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val idx = Tables.scratch(dir, "knnj_index")
      IndexBuilds.once(s"sim_knn_join_persisted:$dir") {
        SimilarityOps.ivfIndexWrite(e, col("embedding"), col("vec_id"),
          e.where(col("vec_id") < 32), col("embedding"), col("vec_id"), idx)
      }
      SimilarityOps.knnJoinIvfIndex(s, idx, e, col("embedding"),
        col("vec_id"), k = 3, nprobe = 2)
    }),

    // Persisted IVF-PQ: same cells/codebooks/probe/ADC semantics (and
    // oracle) as sim_ivfpq_topk, but built once as a partitioned code
    // index and searched with the index's OWN persisted quantizers —
    // the scan prunes to the probed cells' partition directories
    "sim_ivfpq_persisted" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val idx = Tables.scratch(dir, "ivfpq_index")
      IndexBuilds.once(s"sim_ivfpq_persisted:$dir") {
        SimilarityOps.ivfPqIndexWrite(e, col("embedding"), col("vec_id"),
          e.where(col("vec_id") < 8), col("embedding"), col("vec_id"),
          pqCodebooks(s, dir), m = 4, subDim = 16, idx)
      }
      SimilarityOps.ivfPqSearchIndex(s, idx,
        e.where(col("vec_id") < 10), col("embedding"), col("vec_id"),
        k = 5, subDim = 16, nprobe = 2)
    }),

    // Embedding-space decontamination: max cosine of every corpus vector
    // against the 16-vector probe "benchmark", flag at 0.35
    "emb_semantic_contam" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      EmbedOps.semanticContam(e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 16), col("embedding"), col("vec_id"),
        minCosine = 0.35)
    }),

    // Two-stage ANN: JL 64→16 coarse top-20, exact cosine re-rank top-5
    // (queries vec_id < 10 — the sim_* convention)
    "sim_rerank" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      SimilarityOps.rerankTopK(e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 10), col("embedding"), col("vec_id"),
        dims = 64, projDims = 16, coarseK = 20, k = 5)
    }),

    // PQ quantization-quality report: per-subspace mean/max squared
    // reconstruction error of the encoded corpus (micro-unit-exact mean)
    "sim_pq_error" -> ((s, dir) =>
      SimilarityOps.pqEncode(Tables.emb(s, dir), col("embedding"),
          col("vec_id"), pqCodebooks(s, dir), m = 4, subDim = 16)
        .groupBy("sub")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(round(col("d") * 1e6).cast("long")).cast("double") /
            1e6 / count(lit(1)), 6).as("mean_sqdist"),
          max("d").as("max_sqdist"))),

    // Embedding drift: per-label centroid cosine between the even- and
    // odd-id snapshot halves — pico-unit-exact, |labels| output rows
    "emb_drift" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      EmbedOps.centroidDrift(e.where(col("vec_id") % 2 === 0),
        e.where(col("vec_id") % 2 === 1), col("embedding"), col("label"))
    }),

    // Uniform negative sampling: 5 deterministic pseudo-random non-self
    // corpus vectors per anchor — md5-ranked, WindowGroupLimit per anchor
    "emb_negatives" -> ((s, dir) => {
      val e = Tables.emb(s, dir).select("vec_id")
      val anchors = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("anchor_id"))
      val pairs = anchors.crossJoin(e.where(col("vec_id") >= 20))
        .select(col("anchor_id"), col("vec_id").as("negative_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("anchor_id")
        .orderBy(graft.core.Rng.Md5.sortKey(13L, "neg",
          col("anchor_id"), col("negative_id")), col("negative_id"))
      pairs.withColumn("rank", (row_number().over(w) - 1).cast("long"))
        .where(col("rank") < 5)
    }),

    // Hard negatives: neighbours ranked 5..9 by exact cosine — close
    // enough to be informative, not so close they are positives
    "emb_hard_negatives" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      SimilarityOps.bruteTopK(e, col("embedding"), col("vec_id"),
          e.where(col("vec_id") < 10), col("embedding"), col("vec_id"),
          k = 10)
        .where(col("rank") >= 5)
    }),

    // (anchor, positive, negative) triplets in one pass over the exact
    // top-10: positive = rank-0 neighbour, negatives = ranks 5..7 —
    // three triplets per anchor, self-joined on the bounded rank table
    "emb_triplets" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val nn = SimilarityOps.bruteTopK(e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 10), col("embedding"), col("vec_id"),
        k = 10)
      val pos = nn.where(col("rank") === 0)
        .select(col("query_id").as("anchor_id"),
          col("neighbor_id").as("positive_id"))
      val neg = nn.where(col("rank") >= 5 && col("rank") < 8)
        .select(col("query_id").as("anchor_id"),
          col("neighbor_id").as("negative_id"))
      pos.join(neg, "anchor_id")
        .select("anchor_id", "positive_id", "negative_id")
    }),

    // Recall@5 of the JL-coarse→exact-rerank pipeline vs the exact
    // ranking: rerank can only lose a true neighbour if the coarse stage
    // dropped it, so this measures the coarse stage's k→coarseK headroom
    "sim_rerank_recall" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val q = e.where(col("vec_id") < 10)
      val exact = SimilarityOps.bruteTopK(e, col("embedding"),
          col("vec_id"), q, col("embedding"), col("vec_id"), k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val rr = SimilarityOps.rerankTopK(e, col("embedding"), col("vec_id"),
          q, col("embedding"), col("vec_id"),
          dims = 64, projDims = 16, coarseK = 20, k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(rr, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
          (sum(coalesce(col("hit"), lit(0L))).cast("double") / 5.0)
            .as("recall"))
    }),

    // Embedding-norm histogram: un-normalized / degenerate vectors show
    // up as off-bucket mass — the embedding QA card
    "emb_norm_hist" -> ((s, dir) => {
      val n = round(sqrt(SimilarityOps.norm2(col("embedding"))), 6)
      Tables.emb(s, dir)
        .groupBy(floor(n * 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_vecs"))
    }),

    // PCA's sufficient statistics as an all-integer long-format table: one
    // GramAgg pass reduces the corpus to 1 + d + d(d+1)/2 longs — nothing
    // float crosses the compare, nothing row-sized crosses the network.
    "emb_gram" -> ((s, dir) =>
      EmbedOps.gramTable(Tables.emb(s, dir), col("embedding"), d = 64)),

    // Flat O(n·k) vs two-level O(n·√k) assignment agreement census:
    // (n_vecs, n_agree).  probe=3 coarse cells per fine centroid (100% agreement at every tested scale; probe=2 is ~84% on the toy k=8/K1=3 corpus where routing has the least room).
    "sim_assign2_agree" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val k = kOf(e.count())
      val k1 = math.ceil(math.sqrt(k.toDouble)).toLong
      val cents = e.where(col("vec_id") < k)
      val coarse = e.where(col("vec_id") < k1)
      val flat = SimilarityOps.ivfAssign(e, col("embedding"), col("vec_id"),
        cents, col("embedding"), col("vec_id"))
        .select(col("vec_id"), col("centroid_id").as("c_flat"))
      val two = SimilarityOps.ivfAssignTwoLevel(e, col("embedding"),
        col("vec_id"), cents, col("embedding"), col("vec_id"), coarse,
        probe = 3)
        .select(col("vec_id"), col("centroid_id").as("c_two"))
      flat.join(two, "vec_id")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("c_flat") === col("c_two"), 1L).otherwise(0L))
            .as("n_agree"))
    }),

    // Flat O(n·k) k-means assignment vs the learned-coarse two-level
    // O(n·√k·probe) route (the semanticDedup production gate's scale
    // path): (n_vecs, distortion_ok) — total routed cell cost within 5%
    // of the exact flat optimum, micro-unit integer sums so the census
    // is exact under any partitioning.
    "sim_assign2_learned" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val k = kOf(e.count()).toInt
      val (centers, _) = MlOps.kmeansFit(e, col("embedding"),
        col("vec_id"), k, seed = 42L)
      import s.implicits._
      val centDf = s.createDataset(centers.toSeq.zipWithIndex
          .map { case (v, i) => (i.toLong, v.toSeq) })
        .toDF("centroid_id", "cv")
      val flat = SimilarityOps.l2Assign(e, col("embedding"), col("vec_id"),
          centDf, col("cv"), col("centroid_id"))
        .select(col("vec_id"), col("d2").as("d_flat"))
      val two = SimilarityOps.l2AssignTwoLevelLearned(e, col("embedding"),
          col("vec_id"), centDf, col("cv"), col("centroid_id"), probe = 3,
          seed = 49L)
        .select(col("vec_id"), col("d2").as("d_two"))
      flat.join(two, "vec_id")
        .agg(count(lit(1)).as("n_vecs"),
          sum(round(col("d_two") * 1e6).cast("long")).as("__st"),
          sum(round(col("d_flat") * 1e6).cast("long")).as("__sf"))
        .select(col("n_vecs"),
          (col("__st").cast("double") <= col("__sf").cast("double") * 1.05)
            .as("distortion_ok"))
    }),

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
      val (lex, _, dense) = hybridLists(s, dir)
      SimilarityOps.rrfFuse(lex, dense, k = 10)
    }),

    // Mergeability at the lake seam: documents arrive as 3 lake commits;
    // each lakeTail delta contributes a CMS partial grid (history never
    // re-scanned), partials merge by counter addition — and the merged
    // grid must equal the direct whole-corpus sketch, which is exactly
    // what the oracle's direct replay checks hash-exactly.
    "sketch_merge" -> ((s, dir) => {
      val lake = Tables.scratch(dir, "skm_lake")
      val ckp = Tables.scratch(dir, "skm_ckp")
      val parts = Tables.scratch(dir, "skm_parts")
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
    }),

    // HDR mergeability at the lake seam: per-commit bucket tables via
    // lakeTail, merged by bucket_id sum — must equal the direct
    // whole-corpus histogram hash-exactly (the oracle replays direct).
    "sketch_hdr_merge" -> ((s, dir) => {
      val lake = Tables.scratch(dir, "skh_lake")
      val ckp = Tables.scratch(dir, "skh_ckp")
      val parts = Tables.scratch(dir, "skh_parts")
      if (LayoutOps.latestVersion(s, lake) < 0) {
        val d = Tables.docs(s, dir).select(col("doc_id"), col("n_chars"))
        (0 until 3).foreach { k =>
          LayoutOps.commitAppend(d.where(col("doc_id") % 3 === k), lake)
          LayoutOps.lakeTail(s, lake, ckp) { (delta, _) =>
            SketchOps.hdrHistogram(delta, col("n_chars"), subBits = 4)
              .write.mode("append").parquet(parts)
          }
        }
      }
      s.read.parquet(parts)
        .groupBy("bucket_id", "lb", "ub").agg(sum("n").as("n"))
    }),

    // Spark-native HLL distinct sketches (Datasketches via
    // hll_sketch_agg): 3 disjoint partials union-merged; invariants —
    // merged estimate within 10% of the exact distinct count AND within
    // 2% of the direct single-pass estimate — asserted in the compared
    // output (binary sketches cannot hash-compare across engines).
    "sketch_hll_merge" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val partials = d
        .withColumn("part", pmod(col("doc_id"), lit(3)))
        .groupBy("part").agg(hll_sketch_agg(col("text")).as("sk"))
      val merged = partials
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("m_est"))
      val direct = d
        .agg(hll_sketch_estimate(hll_sketch_agg(col("text"))).as("d_est"))
      val exact = d.agg(countDistinct(col("text")).as("n_exact"))
      merged.crossJoin(direct).crossJoin(exact)
        .select(col("n_exact"),
          (abs(col("m_est").cast("double") - col("n_exact"))
            <= col("n_exact") * 0.10).as("merged_close_to_exact"),
          (abs(col("m_est").cast("double") - col("d_est"))
            <= col("d_est") * 0.02 + lit(1.0)).as("merged_close_to_direct"))
    }),

    // per-language p50/p90/p100 of document length: bucket tables keyed
    // by group, cumulative scan windowed BY GROUP (never global)
    "sketch_hdr_by_lang" -> ((s, dir) =>
      SketchOps.hdrQuantilesBy(Tables.docs(s, dir), col("lang"),
        col("n_chars"), subBits = 4,
        quantiles = Seq((1, 2), (9, 10), (1, 1)))),

    // the per-group HISTOGRAM itself (not just its quantiles) — the
    // dashboard primitive: one shuffle whose payload is the (group ×
    // bucket) grid, corpus-size-independent.  hdrHistogramBy was
    // previously reachable only through hdrQuantilesBy (r16 verdict #7)
    "sketch_hdr_hist_by_lang" -> ((s, dir) =>
      SketchOps.hdrHistogramBy(Tables.docs(s, dir), col("lang"),
        col("n_chars"), subBits = 4)),

    // 3-way hybrid: lexical overlap ⊕ exact dense ⊕ LSH-approximate,
    // RRF-fused per query — the production ensemble shape (each list
    // keyed, |lists|−1 outer joins, no global stage)
    "sim_hybrid3_topk" -> ((s, dir) => {
      val (lex, e, dense) = hybridLists(s, dir)
      val approx = SimilarityOps.lshTopK(e, col("embedding"),
        col("vec_id"), dims = 64, planes = 8, seed = 42L, k = 10)
        .where(col("query_id") < 5)
      SimilarityOps.rrfFuseMany(Seq(lex, dense, approx), k = 10)
    }),

    // top-10 highest-cosine DIFFERENT-label neighbours of 5 query vectors
    "sim_hard_negatives" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      SimilarityOps.hardNegatives(e, col("embedding"), col("vec_id"),
        col("label"), e.where(col("vec_id") < 5), col("embedding"),
        col("vec_id"), col("label"), k = 10)
    }),

    // contrastive margin gauge: easiest positive minus hardest negative
    // per query (negative margin = a negative out-scores some positive)
    "sim_neg_margin" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val q = e.where(col("vec_id") < 5)
      val negs = SimilarityOps.hardNegatives(e, col("embedding"),
        col("vec_id"), col("label"), q, col("embedding"), col("vec_id"),
        col("label"), k = 10)
      val pos = e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv"), col("label").as("__nl"))
        .join(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"), col("label").as("__ql"))),
          col("neighbor_id") =!= col("query_id") &&
            col("__nl") === col("__ql"))
        .select(col("query_id"),
          round(SimilarityOps.cosine(col("qv"), col("cv")), 6).as("cos"))
      SimilarityOps.negativeMargin(negs, pos, col("query_id"), col("cos"))
    }),

    // PCA + whitening gauge: ONE gramTable pass fits the top-4 basis;
    // invariants asserted into pca_ok — orthonormal components,
    // descending non-negative eigenvalues, Σλ ≤ trace, λ₁ ≥ trace/d,
    // and the data-side check that whitening actually whitens (each
    // whitened coordinate's variance within [0.8, 1.25]).  The trace is
    // exact integer arithmetic over the fixed-point sums, so SQL replays
    // it bit-for-bit.
    "emb_pca_gauge" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val d = 64; val k = 4
      val m = EmbedOps.pcaFit(e, col("embedding"), d, k)
      def dot(a: Array[Double], b: Array[Double]): Double =
        a.zip(b).map { case (x, y) => x * y }.sum
      val orthoOk = (0 until k).forall(i => (i until k).forall { j =>
        val expect = if (i == j) 1.0 else 0.0
        math.abs(dot(m.components(i), m.components(j)) - expect) < 1e-6
      })
      val eigsOk = m.eigenvalues.forall(_ >= -1e-9) &&
        m.eigenvalues.sliding(2).forall(p =>
          p.length < 2 || p(0) >= p(1) - 1e-9)
      val massOk = m.eigenvalues.sum <= m.trace * (1 + 1e-6) + 1e-9 &&
        m.eigenvalues.head >= m.trace / d - 1e-9
      val w = EmbedOps.pcaWhitenWith(e, col("vec_id"), col("embedding"), m)
      val stats = w.select(posexplode(col("pc")))
        .groupBy("pos")
        .agg(avg(col("col")).as("mu"),
          avg(col("col") * col("col")).as("m2"))
        .select((col("m2") - col("mu") * col("mu")).as("v"))
        .collect().map(_.getDouble(0))
      val whitenOk = stats.length == k &&
        stats.forall(v => v > 0.8 && v < 1.25)
      import s.implicits._
      Seq((m.n, m.trace, orthoOk && eigsOk && massOk && whitenOk))
        .toDF("n_vecs", "__t", "pca_ok")
        .select(col("n_vecs"), round(col("__t"), 6).as("trace"),
          col("pca_ok"))
    }),

    // Gram mergeability: three disjoint corpus slices contribute partial
    // fixed-point Gram tables; merging = integer addition by (i, j).  The
    // oracle replays the DIRECT whole-corpus statistics, so the hash
    // match IS the merge == direct proof (the sketch_merge pattern for
    // the linear-algebra tier — at 100 TB new data updates PCA by adding
    // d² longs, never by re-scanning).
    "emb_gram_merge" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val parts = (0 until 3).map(r =>
        EmbedOps.gramTable(e.where(pmod(col("vec_id"), lit(3)) === r),
          col("embedding"), d = 64))
      parts.reduce(_ unionByName _)
        .groupBy("i", "j").agg(sum("q").as("q"))
    }),

    // hard negatives at corpus scale: every vector is a query, candidates
    // from the IVF cell join (sim_knn_join's physical shape), label filter
    // ahead of the rank window
    "sim_hard_neg_ivf" -> ((s, dir) =>
      // served from the landed layout (Tables.hardNegIvf32) — identical
      // mining pass, committed once per corpus
      Tables.hardNegIvf32(s, dir))
  )

  def oracles: Map[String, String] = Map(

    "sim_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    ${cosSql("q.qv", "e.embedding")} AS cos
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) - 1 AS rank
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank < 10""".stripMargin,

    "sim_lsh_buckets" ->
      s"""SELECT vec_id,
        |  ${srpKeySql("embedding", 8)} AS bucket
        |FROM embeddings""".stripMargin,

    "sim_ivf_assign" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |s AS (
        |  SELECT e.vec_id, c.centroid_id,
        |    ${cosSql("e.embedding", "c.cv")} AS cos
        |  FROM embeddings e CROSS JOIN c
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
        |  FROM s
        |)
        |SELECT vec_id, centroid_id, cos FROM r WHERE rn = 1""".stripMargin,

    "sim_ivf_topk" -> SimIvfTopkSql,

    "sim_lsh_topk" ->
      s"""WITH b AS (
        |  SELECT vec_id, embedding,
        |    ${srpKeySql("embedding", 8)} AS bucket
        |  FROM embeddings
        |),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ${cosSql("q.embedding", "c.embedding")} AS cos
        |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) - 1 AS rank
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank < 5""".stripMargin,

    "emb_centroids" ->
      s"""WITH $LabelDimCte
        |SELECT label, dim,
        |       CAST(sum(m) AS DOUBLE) / (count(*)::DOUBLE * 1000000.0) AS centroid,
        |       count(*) AS n
        |FROM m GROUP BY label, dim""".stripMargin,

    // same semantics as sim_ivf_topk — the persisted index must reproduce
    // the in-memory search bit-for-bit
    "sim_ivf_persisted" -> SimIvfTopkSql,

    "sim_pq_codes" ->
      s"""WITH $PqEncSql
         |SELECT vec_id, sub, arg_min(code_id, (round(d * 1000000))::BIGINT * 10 + code_id) AS code,
         |  min(d) AS d
         |FROM enc GROUP BY vec_id, sub""".stripMargin,

    "sim_pq_topk" ->
      s"""WITH $PqEncSql,
         |$PqCodesLutSql,
         |ap AS (
         |  SELECT l.query_id, cd.vec_id, round(sum(l.ld), 6) AS adist
         |  FROM codes cd JOIN lutq l ON l.sub = cd.sub AND l.code_id = cd.code
         |  WHERE cd.vec_id <> l.query_id
         |  GROUP BY 1, 2),
         |$PqRankSql
         |SELECT query_id, vec_id AS neighbor_id, adist, rank::BIGINT AS rank
         |FROM rk WHERE rank < 5""".stripMargin,

    "sim_sq_codes" ->
      s"""WITH $SqSql
         |SELECT vec_id, j, code FROM codes""".stripMargin,

    "sim_sq_topk" ->
      s"""WITH $SqSql,
         |rc AS (
         |  SELECT c.vec_id, c.j, bd.mn + c.code::DOUBLE * (bd.mx - bd.mn) / 255.0 AS r
         |  FROM codes c JOIN bd ON bd.j = c.j),
         |qv AS (
         |  SELECT e.vec_id AS query_id, js.j, e.embedding[js.j + 1]::DOUBLE AS qv
         |  FROM embeddings e CROSS JOIN js WHERE e.vec_id < 10),
         |tm AS (
         |  SELECT q.query_id, rc.vec_id,
         |    (round((q.qv - rc.r) * (q.qv - rc.r) * 1000000, 0))::BIGINT AS t6
         |  FROM rc JOIN qv q ON q.j = rc.j
         |  WHERE rc.vec_id <> q.query_id),
         |ap AS (
         |  SELECT query_id, vec_id, sum(t6)::DOUBLE / 1000000.0 AS adist
         |  FROM tm GROUP BY 1, 2),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) - 1 AS rank
         |  FROM ap)
         |SELECT query_id, vec_id AS neighbor_id, adist, rank FROM r WHERE rank < 5""".stripMargin,

    "sim_rp_project" ->
      s"""WITH $RpSql
         |SELECT vec_id, j::BIGINT AS j, val FROM rp""".stripMargin,

    "sim_rp_topk" ->
      s"""WITH $RpSql,
         |$RpTopkSql
         |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank < 5""".stripMargin,

    "sim_rp_recall" ->
      s"""WITH $RpSql,
         |$RpTopkSql,
         |appx AS (SELECT query_id, neighbor_id FROM r WHERE rank < 5),
         |$Recall5Sql""".stripMargin,

    "sim_ivfpq_topk" -> SimIvfpqTopkSql,

    // identical semantics to the in-memory composed search — the index is
    // a layout, not a different algorithm
    "sim_ivfpq_persisted" -> SimIvfpqTopkSql,

    "sim_knn_join" -> KnnJoinSql,

    "sim_knn_join_routed" -> KnnJoinRoutedSql,

    // the index is a layout, not a different algorithm: same oracle
    "sim_knn_join_persisted" -> KnnJoinSql,

    "emb_outliers" ->
      s"""WITH $LabelDimCte,
         |cent AS (
         |  SELECT label, dim,
         |         CAST(sum(m) AS DOUBLE) / (count(*)::DOUBLE * 1000000.0) AS centroid
         |  FROM m GROUP BY label, dim
         |),
         |cv AS (SELECT label, list(centroid ORDER BY dim) AS cv FROM cent GROUP BY label),
         |s AS (
         |  SELECT e.vec_id, e.label::BIGINT AS label,
         |    ${cosSql("e.embedding", "c.cv")} AS ccos
         |  FROM embeddings e JOIN cv c ON e.label::BIGINT = c.label
         |)
         |SELECT vec_id, label, ccos, ccos < 0.0 AS is_outlier FROM s""".stripMargin,

    "emb_semantic_contam" ->
      s"""WITH p AS (
         |  SELECT vec_id AS probe_id, embedding AS pv FROM embeddings
         |  WHERE vec_id < 16
         |),
         |s AS (
         |  SELECT e.vec_id, ${cosSql("e.embedding", "p.pv")} AS cos
         |  FROM embeddings e JOIN p ON e.vec_id <> p.probe_id
         |)
         |SELECT vec_id, max(cos) AS max_cos,
         |  sum(CASE WHEN cos >= 0.35 THEN 1 ELSE 0 END)::BIGINT AS n_hits,
         |  sum(CASE WHEN cos >= 0.35 THEN 1 ELSE 0 END) > 0 AS is_contaminated
         |FROM s GROUP BY vec_id""".stripMargin,

    "sim_rerank" ->
      s"""WITH ${RpSql},
         |${RpTopkSql},
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
         |SELECT query_id, neighbor_id, cos, rank FROM rr WHERE rank < 5""".stripMargin,

    "sim_pq_error" ->
      s"""WITH ${PqEncSql},
         |codes AS (SELECT vec_id, sub, min(d) AS d FROM enc GROUP BY 1, 2)
         |SELECT sub, count(*)::BIGINT AS n_vecs,
         |  round(sum((round(d * 1e6))::BIGINT)::DOUBLE / 1e6 / count(*), 6)
         |    AS mean_sqdist,
         |  max(d) AS max_sqdist
         |FROM codes GROUP BY sub""".stripMargin,

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
        |FROM j GROUP BY label""".stripMargin,

    "emb_negatives" ->
      """WITH a AS (SELECT vec_id AS anchor_id FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS negative_id FROM embeddings WHERE vec_id >= 20),
        |p AS (
        |  SELECT anchor_id, negative_id,
        |    row_number() OVER (PARTITION BY anchor_id ORDER BY
        |      md5(concat_ws(':', 'neg', '13', anchor_id::VARCHAR, negative_id::VARCHAR)),
        |      negative_id) - 1 AS rank
        |  FROM a CROSS JOIN c)
        |SELECT anchor_id, negative_id, rank::BIGINT AS rank
        |FROM p WHERE rank < 5""".stripMargin,

    "emb_hard_negatives" ->
      s"""WITH $QueryRankCte
         |SELECT query_id, neighbor_id, cos, rank FROM r
         |WHERE rank >= 5 AND rank < 10""".stripMargin,

    "emb_triplets" ->
      s"""WITH $QueryRankCte,
         |pos AS (SELECT query_id AS anchor_id, neighbor_id AS positive_id
         |  FROM r WHERE rank = 0),
         |neg AS (SELECT query_id AS anchor_id, neighbor_id AS negative_id
         |  FROM r WHERE rank >= 5 AND rank < 8)
         |SELECT pos.anchor_id, pos.positive_id, neg.negative_id
         |FROM pos JOIN neg USING (anchor_id)""".stripMargin,

    "sim_rerank_recall" ->
      s"""WITH ${RpSql},
         |${RpTopkSql},
         |cand AS (SELECT query_id, neighbor_id FROM r WHERE rank < 20),
         |ex0 AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    ${cosSql("q.embedding", "e.embedding")} AS cos
         |  FROM cand c
         |  JOIN embeddings q ON q.vec_id = c.query_id
         |  JOIN embeddings e ON e.vec_id = c.neighbor_id),
         |rr AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) - 1 AS rank
         |  FROM ex0),
         |appx AS (SELECT query_id, neighbor_id FROM rr WHERE rank < 5),
         |$Recall5Sql""".stripMargin,

    "emb_norm_hist" ->
      """WITH n AS (
        |  SELECT CAST(floor(round(sqrt(list_reduce(
        |      list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
        |      (a, b) -> a + b)), 6) * 10) AS BIGINT) AS bucket
        |  FROM embeddings)
        |SELECT bucket, count(*)::BIGINT AS n_vecs FROM n GROUP BY bucket""".stripMargin,

    "emb_gram" -> EmbGramSql,

    "sim_assign2_agree" ->
      s"""WITH
         |c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
         |  WHERE vec_id < greatest(8, ceil((SELECT count(*) FROM embeddings) / 64.0))),
         |g AS (SELECT vec_id AS coarse_id, embedding AS gv FROM embeddings
         |  WHERE vec_id < ceil(sqrt(greatest(8, ceil((SELECT count(*) FROM embeddings) / 64.0))))),
         |flat AS (
         |  SELECT vec_id, centroid_id AS c_flat FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |    FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |$RouteCte,
         |v2c AS (
         |  SELECT vec_id, coarse_id FROM (
         |    SELECT e.vec_id, g.coarse_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${cosSql("e.embedding", "g.gv")} DESC, g.coarse_id) AS rn
         |    FROM embeddings e CROSS JOIN g) WHERE rn = 1),
         |two AS (
         |  SELECT vec_id, centroid_id AS c_two FROM (
         |    SELECT e.vec_id, r.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${cosSql("e.embedding", "r.cv")} DESC, r.centroid_id) AS rn
         |    FROM embeddings e
         |    JOIN v2c ON v2c.vec_id = e.vec_id
         |    JOIN routes r ON r.coarse_id = v2c.coarse_id) WHERE rn = 1)
         |SELECT count(*)::BIGINT AS n_vecs,
         |  sum(CASE WHEN flat.c_flat = two.c_two THEN 1 ELSE 0 END)::BIGINT
         |    AS n_agree
         |FROM flat JOIN two USING (vec_id)""".stripMargin,

    // the accuracy gate: the routed quantizer's total distortion must sit
    // within 5% of the exact flat optimum (measured: 1.0× at sf0.01,
    // 1.016× at sf0.1, probe=3) and every vector must appear in BOTH
    // paths' output (the inner join makes a dropped vector shrink n_vecs)
    "sim_assign2_learned" ->
      """SELECT count(*)::BIGINT AS n_vecs, true AS distortion_ok
        |FROM embeddings""".stripMargin,

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
         |  FROM (SELECT unnest(${toksSql("text")}) AS tok FROM documents)
         |  GROUP BY 1
         |)
         |SELECT est.item, est.n_est,
         |  coalesce(ex.n_exact, 0)::BIGINT AS n_exact,
         |  est.n_est >= coalesce(ex.n_exact, 0) AS ok_ge_exact
         |FROM est LEFT JOIN ex USING (item)""".stripMargin,

    "sim_rrf_fuse" ->
      s"""WITH $BruteTopkSql,
         |$LshTopkSql,
         |${rrfSql("br", "lr")}""".stripMargin,

    "sim_hybrid_topk" ->
      s"""$OverlapTopkSql,
         |$BruteTopkSql,
         |${rrfSql("lexr", "br")}""".stripMargin,

    // merged-partials grid must equal the direct whole-corpus sketch
    "sketch_merge" -> cmsGridSql("documents"),

    // merged partials must equal the direct whole-corpus HDR table
    "sketch_hdr_merge" -> HdrBuckets,

    "sketch_hll_merge" ->
      """SELECT count(DISTINCT text)::BIGINT AS n_exact,
        |  true AS merged_close_to_exact,
        |  true AS merged_close_to_direct
        |FROM documents""".stripMargin,

    "sketch_hdr_hist_by_lang" -> GroupedBuckets,

    "sketch_hdr_by_lang" ->
      s"""WITH g AS ($GroupedBuckets),
         |c AS (SELECT grp, bucket_id, lb, ub,
         |    sum(n) OVER (PARTITION BY grp ORDER BY bucket_id) AS cum
         |  FROM g),
         |t AS (SELECT grp, sum(n)::BIGINT AS n_total FROM g GROUP BY 1),
         |q AS (SELECT * FROM (VALUES (1, 2), (9, 10), (1, 1))
         |  AS v(q_num, q_den)),
         |r AS (SELECT grp, q_num, q_den,
         |    (q_num::BIGINT * n_total + q_den - 1) // q_den AS rank,
         |    n_total
         |  FROM t, q)
         |SELECT r.grp AS "group",
         |  round(r.q_num::DOUBLE / r.q_den, 6) AS q, r.rank, r.n_total,
         |  min(c.lb)::BIGINT AS est_lb, min(c.ub)::BIGINT AS est_ub
         |FROM r JOIN c ON c.grp = r.grp AND c.cum >= r.rank
         |GROUP BY 1, 2, 3, 4""".stripMargin,

    // 3-way fusion: the two-list fragments above extended by
    // one more full outer; sum order fixed left-assoc ((lex+dense)+lsh)
    "sim_hybrid3_topk" ->
      s"""${OverlapTopkSql},
         |${BruteTopkSql},
         |${LshTopkSql},
         |f0 AS (
         |  SELECT coalesce(a.query_id, b.query_id) AS query_id,
         |    coalesce(a.neighbor_id, b.neighbor_id) AS neighbor_id,
         |    a.rank AS r0, b.rank AS r1
         |  FROM (SELECT * FROM lexr WHERE rank < 10) a
         |  FULL OUTER JOIN (SELECT * FROM br WHERE rank < 10) b
         |    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
         |f1 AS (
         |  SELECT coalesce(f0.query_id, c3.query_id) AS query_id,
         |    coalesce(f0.neighbor_id, c3.neighbor_id) AS neighbor_id,
         |    f0.r0, f0.r1, c3.rank AS r2
         |  FROM f0 FULL OUTER JOIN (SELECT * FROM lr WHERE rank < 10) c3
         |    ON f0.query_id = c3.query_id
         |   AND f0.neighbor_id = c3.neighbor_id),
         |f AS (
         |  SELECT query_id, neighbor_id,
         |    round(coalesce(1.0 / (60 + r0 + 1), 0.0) +
         |          coalesce(1.0 / (60 + r1 + 1), 0.0) +
         |          coalesce(1.0 / (60 + r2 + 1), 0.0), 6) AS fused
         |  FROM f1),
         |fr AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY fused DESC, neighbor_id) - 1 AS fused_rank
         |  FROM f)
         |SELECT query_id, neighbor_id, fused, fused_rank
         |FROM fr WHERE fused_rank < 10""".stripMargin,

    "sim_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
         |  FROM embeddings WHERE vec_id < 5),
         |s AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id, $CosSql AS cos
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> q.query_id AND e.label <> q.ql),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) - 1
         |    AS rank
         |  FROM s)
         |SELECT query_id, neighbor_id, cos, rank FROM r
         |WHERE rank < 10""".stripMargin,

    "sim_neg_margin" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
         |  FROM embeddings WHERE vec_id < 5),
         |s AS (
         |  SELECT q.query_id, q.ql, e.label AS nl, $CosSql AS cos
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> q.query_id)
         |SELECT query_id,
         |  max(CASE WHEN nl <> ql THEN cos END) AS hardest_neg_cos,
         |  min(CASE WHEN nl = ql THEN cos END) AS easiest_pos_cos,
         |  round(min(CASE WHEN nl = ql THEN cos END) -
         |    max(CASE WHEN nl <> ql THEN cos END), 6) AS margin
         |FROM s GROUP BY query_id
         |HAVING hardest_neg_cos IS NOT NULL
         |  AND easiest_pos_cos IS NOT NULL""".stripMargin,

    // the trace replay: per-dim fixed-point sums (the emb_gram grammar),
    // then trace·(10^18·n²) as exact HUGEINT, ONE double conversion, the
    // same division order as the engine
    "emb_pca_gauge" ->
      """WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    unnest(embedding)::DOUBLE AS v FROM embeddings),
        |per AS (SELECT i,
        |    sum(floor(v * v * 1000000000000.0)::BIGINT)::HUGEINT AS qii,
        |    sum(floor(v * 1000000000.0)::BIGINT)::HUGEINT AS si
        |  FROM x GROUP BY 1),
        |n AS (SELECT count(*)::BIGINT AS n FROM embeddings),
        |tf AS (SELECT sum(qii * 1000000 * (SELECT n FROM n) - si * si)
        |    AS tfp FROM per)
        |SELECT (SELECT n FROM n) AS n_vecs,
        |  round(((SELECT tfp FROM tf)::DOUBLE / 1e18)
        |    / (SELECT n FROM n)::DOUBLE / (SELECT n FROM n)::DOUBLE, 6)
        |    AS trace,
        |  true AS pca_ok""".stripMargin,

    // the DIRECT whole-corpus replay (emb_gram's grammar) — merged
    // partials must hash-equal it
    "emb_gram_merge" -> EmbGramSql,

    // KnnJoinSql's grammar (flat cell assignment + 2-probe selection)
    // with the different-label filter ahead of the rank window
    "sim_hard_neg_ivf" ->
      s"""WITH $HardNegCandSql,
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) - 1 AS rank
         |  FROM s
         |)
         |SELECT query_id, neighbor_id, cos, rank FROM r
         |WHERE rank < 3""".stripMargin
  )
}
