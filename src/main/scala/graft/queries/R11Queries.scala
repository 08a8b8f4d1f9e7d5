package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, MultimodalOps, SimilarityOps, SplitOps, TextOps}

/** Round-11 queries: the composed ANN index (IVF-PQ), soft dedup
  * (downweight instead of drop), banding-quality evaluation and closed-form
  * LSH parameter tuning, boilerplate-segment removal (the C4/CCNet line
  * rule), trigram Stupid-Backoff fluency, deterministic weighted source
  * interleaving, and media near-dup pairs by perceptual aHash.
  */
object R11Queries {

  /** Interleave mixture used by `o3_interleave` (sources outside the map
    * are excluded from the stream — the mixture IS the selection). */
  private val InterleaveWeights = Map(
    "src0" -> 4L, "src1" -> 2L, "src2" -> 1L, "src3" -> 1L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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

    // Soft dedup: every member of a minhash near-dup cluster of size n
    // weighted 1/n — the cluster contributes one document's worth of mass
    "dd_soft_weights" -> ((s, dir) =>
      DedupOps.softDedupWeights(Tables.docs(s, dir), col("doc_id"),
        Tables.minhashCands(s, dir))),

    // Banding-quality report: MinHash-LSH candidate recall/precision vs
    // the exact n-gram-Jaccard ground truth at 0.5
    "dd_minhash_recall" -> ((s, dir) =>
      DedupOps.candidateRecall(
        DedupOps.jaccardFromStats(Tables.ngramPairStats(s, dir),
          minJaccard = 0.5),
        Tables.minhashCands(s, dir))),

    // Closed-form LSH tuner: collision S-curve + threshold location for
    // every (bands, rows) factorization of 8/16/32 hashes, target 0.5
    "dd_lsh_tune" -> ((s, dir) =>
      DedupOps.lshTuneGrid(s, Seq(8, 16, 32), target = 0.5)),

    // Boilerplate-segment removal: segments (the " table " convention of
    // the dd_para_* queries) present in > 2 distinct documents are cut
    // from EVERY document, first occurrence included
    "text_boilerplate" -> ((s, dir) =>
      DedupOps.boilerplateRemove(Tables.docs(s, dir), col("text"),
        col("doc_id"), sepRegex = " table ", joinSep = " ", maxDocs = 2)),

    // Trigram Stupid-Backoff fluency vs the src0 reference corpus
    "text_sbo_lm" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      TextOps.sboScore(d, col("text"), col("doc_id"),
        d.where(col("source") === "src0"), col("text"))
    }),

    // Deterministic weighted interleave of four sources into one ordered
    // training stream (4:2:1:1)
    "o3_interleave" -> ((s, dir) =>
      SplitOps.interleaveBySource(Tables.docs(s, dir), col("source"),
        col("doc_id"), InterleaveWeights)),

    // Media near-dup pairs by identical aHash over the stub-decoded
    // 16-cell feature grid
    "mm_ahash_pairs" -> ((s, dir) =>
      MultimodalOps.aHashPairs(
        MultimodalOps.stubDecode(
          MultimodalOps.withPayload(Tables.docs(s, dir), col("text")),
          col("payload"), col("doc_id"), dim = 16).toDF(),
        col("doc_id")))
  )

  /** Fixed PQ codebooks (same construction as the sim_pq_* queries). */
  private def pqCodebooks(s: SparkSession, dir: String): DataFrame =
    Tables.emb(s, dir).where(col("vec_id") < 4)
      .select(col("vec_id").as("code_id"), col("embedding").as("e"))
      .select(explode(sequence(lit(0), lit(3))).as("sub"), col("code_id"),
        col("e"))
      .select(col("sub"), col("code_id"),
        slice(col("e"), col("sub") * 16 + 1, lit(16)).as("cv"))

  /** IVF-PQ oracle CTE: cell assignment (fixed centroids vec_id < 8), PQ
    * codes (vec_id < 4 slice codebooks), probe selection, per-query LUT,
    * pruned ADC sum — ends at `rk`. */
  private val IvfPqSql =
    """ct AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      |sc AS (
      |  SELECT e.vec_id, ct.centroid_id,
      |    round(
      |      list_reduce(list_transform(list_zip(e.embedding, ct.cv),
      |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
      |      (sqrt(list_reduce(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
      |       sqrt(list_reduce(list_transform(ct.cv, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
      |      6) AS ccos
      |  FROM embeddings e CROSS JOIN ct),
      |asg AS (
      |  SELECT vec_id, centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
      |    FROM sc) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
      |    FROM sc WHERE vec_id < 10) WHERE rn <= 2),
      |subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
      |cb AS (
      |  SELECT s.sub, e.vec_id AS code_id,
      |    e.embedding[s.sub*16+1 : s.sub*16+16] AS cv
      |  FROM embeddings e CROSS JOIN subs s
      |  WHERE e.vec_id < 4),
      |enc AS (
      |  SELECT e.vec_id, c.sub, c.code_id,
      |    round(
      |      list_reduce(list_transform(e.embedding[c.sub*16+1 : c.sub*16+16],
      |        x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y) +
      |      list_reduce(list_transform(c.cv,
      |        x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y) -
      |      2 * list_reduce(list_transform(
      |        list_zip(e.embedding[c.sub*16+1 : c.sub*16+16], c.cv),
      |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y),
      |      6) AS d
      |  FROM embeddings e CROSS JOIN cb c),
      |codes AS (
      |  SELECT vec_id, sub, arg_min(code_id, (round(d * 1000000))::BIGINT * 10 + code_id) AS code
      |  FROM enc GROUP BY vec_id, sub),
      |lutq AS (
      |  SELECT e.vec_id AS query_id, c.sub, c.code_id,
      |    round(
      |      list_reduce(list_transform(e.embedding[c.sub*16+1 : c.sub*16+16],
      |        x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y) +
      |      list_reduce(list_transform(c.cv,
      |        x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y) -
      |      2 * list_reduce(list_transform(
      |        list_zip(e.embedding[c.sub*16+1 : c.sub*16+16], c.cv),
      |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y),
      |      6) AS ld
      |  FROM embeddings e CROSS JOIN cb c WHERE e.vec_id < 10),
      |ap AS (
      |  SELECT l.query_id, cd.vec_id, round(sum(l.ld), 6) AS adist
      |  FROM codes cd
      |  JOIN asg a ON a.vec_id = cd.vec_id
      |  JOIN probes p ON p.centroid_id = a.centroid_id
      |  JOIN lutq l ON l.query_id = p.query_id AND l.sub = cd.sub AND l.code_id = cd.code
      |  WHERE cd.vec_id <> l.query_id
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT query_id, vec_id, adist,
      |    row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) - 1 AS rank
      |  FROM ap)""".stripMargin

  /** Exact n-gram-Jaccard ground-truth CTE over the shingle vocabulary the
    * minhash chain already built (`shg`) — ends at `truth(doc_a, doc_b)`.
    * Appended after [[R10cQueries.MinhashPairsSql]]. */
  private val JaccardTruthSql =
    """p1 AS (SELECT doc_id, unnest(shs) AS s FROM shg),
      |post0 AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS sh FROM p1),
      |rare AS (SELECT sh FROM post0 GROUP BY sh HAVING count(*) <= 100),
      |post AS (SELECT post0.* FROM post0 JOIN rare USING (sh)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM post GROUP BY doc_id),
      |cm AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |  FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |truth AS (
      |  SELECT doc_a, doc_b
      |  FROM cm
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE round(common::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE, 6) >= 0.5)""".stripMargin

  /** aHash oracle CTE: mirrors stubDecode's md5-derived 16-cell feature
    * grid and the bit-weight fold of [[graft.ops.MultimodalOps.aHash]] —
    * ends at `a(doc_id, ahash)`. */
  private[queries] val AHashSql =
    """d AS (SELECT doc_id, md5(text) AS h FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(0, 15),
      |      j -> ('0x' || substr(h, j * 2 + 1, 2))::INT / 255.0) AS fs
      |  FROM d),
      |m AS (
      |  SELECT doc_id, fs,
      |    list_reduce(fs, (a, b) -> a + b) / 16.0 AS mean
      |  FROM f),
      |a AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(generate_series(0, 15),
      |      j -> CASE WHEN fs[j + 1] > mean THEN pow(2.0, j) ELSE 0.0 END),
      |      (a, b) -> a + b)::BIGINT AS ahash
      |  FROM m)""".stripMargin

  def oracles: Map[String, String] = Map(

    "sim_ivfpq_topk" ->
      s"""WITH $IvfPqSql
         |SELECT query_id, vec_id AS neighbor_id, adist, rank::BIGINT AS rank
         |FROM rk WHERE rank < 5""".stripMargin,

    "dd_soft_weights" ->
      s"""WITH RECURSIVE ${R10cQueries.MinhashClusterSql},
         |sz AS (SELECT root, count(*)::BIGINT AS n FROM cl GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(sz.n, 1)::BIGINT AS dup_count,
         |  round(1.0 / coalesce(sz.n, 1), 6) AS weight
         |FROM documents d
         |LEFT JOIN cl ON cl.doc_id = d.doc_id
         |LEFT JOIN sz ON sz.root = cl.root""".stripMargin,

    "dd_minhash_recall" ->
      s"""WITH ${R10cQueries.MinhashPairsSql},
         |$JaccardTruthSql,
         |hits AS (SELECT t.* FROM truth t JOIN mp USING (doc_a, doc_b))
         |SELECT
         |  (SELECT count(*) FROM truth)::BIGINT AS n_truth,
         |  (SELECT count(*) FROM mp)::BIGINT AS n_candidates,
         |  (SELECT count(*) FROM hits)::BIGINT AS n_hits,
         |  round((SELECT count(*) FROM hits)::DOUBLE /
         |        greatest((SELECT count(*) FROM truth), 1), 6) AS recall,
         |  round((SELECT count(*) FROM hits)::DOUBLE /
         |        greatest((SELECT count(*) FROM mp), 1), 6) AS precision""".stripMargin,

    "dd_lsh_tune" ->
      """WITH ns AS (SELECT unnest([8, 16, 32]) AS n),
        |br AS (SELECT n, unnest(generate_series(1, n)) AS b FROM ns),
        |g AS (SELECT n, b, n // b AS r FROM br WHERE n % b = 0)
        |SELECT n::BIGINT AS num_hashes, b::BIGINT AS bands,
        |  r::BIGINT AS rows_per_band,
        |  round(pow(1.0 / b, 1.0 / r), 6) AS threshold,
        |  round(1.0 - pow(1.0 - pow(0.3, r), b), 6) AS p_at_low,
        |  round(1.0 - pow(1.0 - pow(0.5, r), b), 6) AS p_at_target,
        |  round(1.0 - pow(1.0 - pow(0.7, r), b), 6) AS p_at_high
        |FROM g""".stripMargin,

    "text_boilerplate" ->
      """WITH p0 AS (
        |  SELECT doc_id,
        |         list_filter(list_transform(string_split(text, ' table '),
        |           x -> trim(x)), x -> x <> '') AS ps
        |  FROM documents
        |),
        |x AS (
        |  SELECT doc_id, unnest(generate_series(1, len(ps))) AS i, ps
        |  FROM p0
        |),
        |p AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS para_idx, ps[i] AS para,
        |         md5(ps[i]) AS para_hash
        |  FROM x
        |),
        |hot AS (
        |  SELECT para_hash FROM p GROUP BY para_hash
        |  HAVING count(DISTINCT doc_id) > 2
        |),
        |kept AS (SELECT p.* FROM p ANTI JOIN hot USING (para_hash)),
        |rebuilt AS (
        |  SELECT doc_id,
        |    string_agg(para, ' ' ORDER BY para_idx) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |removed AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_removed
        |  FROM p SEMI JOIN hot USING (para_hash) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(r.clean_text, '') AS clean_text,
        |  coalesce(rm.n_removed, 0)::BIGINT AS n_removed
        |FROM documents d
        |LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
        |LEFT JOIN removed rm ON rm.doc_id = d.doc_id""".stripMargin,

    "text_sbo_lm" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
        |  FROM documents
        |),
        |rtok AS (SELECT t FROM tok WHERE source = 'src0'),
        |rtg AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
        |  FROM (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM rtok WHERE len(t) >= 3)),
        |rbg AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM rtok WHERE len(t) >= 2)),
        |runi AS (SELECT unnest(t) AS w FROM rtok),
        |c123 AS (SELECT w1, w2, w3, count(*)::BIGINT AS c123 FROM rtg GROUP BY 1, 2, 3),
        |c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM rbg GROUP BY 1, 2),
        |c23 AS (SELECT w1 AS w2, w2 AS w3, count(*)::BIGINT AS c23 FROM rbg GROUP BY 1, 2),
        |c2 AS (SELECT w AS w2, count(*)::BIGINT AS c2 FROM runi GROUP BY 1),
        |c3 AS (SELECT w AS w3, count(*)::BIGINT AS c3 FROM runi GROUP BY 1),
        |nv AS (SELECT count(*)::DOUBLE AS n, count(DISTINCT w)::DOUBLE AS v FROM runi),
        |dtg AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM tok WHERE len(t) >= 3)),
        |sc AS (
        |  SELECT d.doc_id,
        |    round(ln(
        |      CASE WHEN c123.c123 IS NOT NULL AND c12.c12 IS NOT NULL
        |           THEN c123.c123::DOUBLE / c12.c12
        |           WHEN c23.c23 IS NOT NULL AND c2.c2 IS NOT NULL
        |           THEN 0.4 * c23.c23::DOUBLE / c2.c2
        |           ELSE 0.16 * (coalesce(c3.c3, 0) + 1)::DOUBLE / (nv.n + nv.v)
        |      END) * 1000000.0, 0)::BIGINT AS lp6
        |  FROM dtg d
        |  LEFT JOIN c123 ON c123.w1 = d.w1 AND c123.w2 = d.w2 AND c123.w3 = d.w3
        |  LEFT JOIN c12 ON c12.w1 = d.w1 AND c12.w2 = d.w2
        |  LEFT JOIN c23 ON c23.w2 = d.w2 AND c23.w3 = d.w3
        |  LEFT JOIN c2 ON c2.w2 = d.w2
        |  LEFT JOIN c3 ON c3.w3 = d.w3
        |  CROSS JOIN nv)
        |SELECT doc_id, count(*)::BIGINT AS n_trigrams,
        |  sum(lp6)::DOUBLE / (1000000.0 * count(*)) AS mean_lp
        |FROM sc GROUP BY doc_id""".stripMargin,

    "o3_interleave" ->
      """WITH w(cls, wt) AS (VALUES ('src0', 4), ('src1', 2), ('src2', 1), ('src3', 1)),
        |r AS (
        |  SELECT d.doc_id, d.source AS cls, w.wt,
        |    row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS rn
        |  FROM documents d JOIN w ON w.cls = d.source),
        |i AS (SELECT doc_id, cls, rn, (rn * 720720) // wt AS ik FROM r)
        |SELECT doc_id, cls, ik::BIGINT AS ik,
        |  (row_number() OVER (ORDER BY ik, cls, rn) - 1)::BIGINT AS pos
        |FROM i""".stripMargin,

    "mm_ahash_pairs" ->
      s"""WITH $AHashSql
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.ahash
         |FROM a x JOIN a y ON x.ahash = y.ahash AND x.doc_id < y.doc_id""".stripMargin
  )
}
