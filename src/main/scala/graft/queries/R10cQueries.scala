package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 (third wave) queries: data-selection tier — DSIR importance
  * resampling (Xie et al., NeurIPS 2023) over the documents corpus, with
  * `source = 'src0'` standing in for the curated target sample.
  */
object R10cQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // DSIR importance weight of every document against the src0 target
    // distribution: hashed-unigram log-likelihood ratio, fixed-point sum
    "text_dsir_weights" -> ((s, dir) => Tables.dsirWeightsSrc0(s, dir)),

    // DSIR selection: the 500 most target-like documents — the same
    // ordering + limit dsirSelect applies, over the landed weights
    "text_dsir_select" -> ((s, dir) =>
      Tables.dsirWeightsSrc0(s, dir)
        .orderBy(col("log_w").desc, col("doc_id"))
        .limit(500)),

    // Incremental DSIR: model written from the even half, odd shard
    // appended, then the odd shard scored against the persisted model —
    // must equal batch dsirWeights on the full corpus restricted to odds
    "text_dsir_incremental" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val idx = R9Queries.runTmp + "/dsir_model_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.ops.TextOps.dsirModelWrite(d.where(col("source") === "src0"),
        d.where(col("doc_id") % 2 === 0), col("text"), idx)
      graft.ops.TextOps.dsirModelAppend(d.where(col("doc_id") % 2 === 1),
        col("text"), idx)
      graft.ops.TextOps.dsirWeightsAgainst(idx,
        d.where(col("doc_id") % 2 === 1), col("text"), col("doc_id"))
    }),

    // Bigram LM fluency: mean conditional log-prob of each doc's token
    // transitions under the src0-trained add-one bigram model
    "text_bigram_lm" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      graft.ops.TextOps.bigramLmScore(d, col("text"), col("doc_id"),
        d.where(col("source") === "src0"), col("text"))
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

    // Multi-band SRP-LSH embedding pairs (4 bands x 4 planes): the
    // tunable-recall banding analogue of the single-bucket dd_embed_lsh
    "dd_embed_banded" -> ((s, dir) =>
      // the landed 0.2-threshold pair table post-filtered at 0.4: the
      // banding/confirm is identical, cos >= 0.4 implies cos >= 0.2, and
      // the stored cosine is the same 6-dp rounded double
      Tables.embBandedPairs02(s, dir).where(col("cos") >= 0.4)),

    // Sparse hashed-TF postings (feature-hashing vectorizer)
    "dd_tf_sparse" -> ((s, dir) =>
      graft.ops.DedupOps.hashedTf(Tables.docs(s, dir), col("text"),
        col("doc_id"))),

    // Count-weighted TF-cosine confirm on minhash candidates (catches
    // repetition-rate variants that set-overlap Jaccard misses)
    "dd_tf_cosine" -> ((s, dir) =>
      graft.ops.DedupOps.tfCosineConfirm(Tables.docs(s, dir), col("text"),
        col("doc_id"), Tables.minhashCands(s, dir))),

    // Dup-cluster size histogram over minhash clusters (the dedup
    // diagnostic: pair tail vs mega-cluster boilerplate)
    "dd_cluster_sizes" -> ((s, dir) =>
      graft.ops.DedupOps.clusterSizeHistogram(Tables.minhashCands(s, dir))),

    // Leakage-safe split: near-dup clusters share one split assignment
    "p3_cluster_split" -> ((s, dir) =>
      graft.ops.SplitOps.clusterSplit(Tables.docs(s, dir),
        Tables.minhashCands(s, dir),
        col("doc_id"), seed = 42L,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")),

    // Quality-aware dedup: MinHash candidate clusters, keep the LONGEST
    // member of each cluster (n_chars arg-max, id tie-break)
    "dd_keep_longest" -> ((s, dir) =>
      graft.ops.DedupOps.keepBestInClusters(Tables.docs(s, dir),
        Tables.minhashCands(s, dir),
        col("doc_id"), col("n_chars"))
        .select("doc_id", "source", "lang")),

    // Per-language quality tiers (CCNet: percentiles within each class)
    "text_quality_tiers_by" -> ((s, dir) =>
      graft.ops.TextOps.qualityTiersBy(Tables.docs(s, dir), col("text"),
        col("doc_id"), col("lang"), tiers = 3)),

    // Exact-IQR outlier gate (k = 3).  The synthetic corpus is too
    // well-behaved to fire at k = 3, so lengths are PLANTED 50x on
    // doc_id % 97 = 0 (the PII-query convention: same construction in
    // the oracle) — the gate must flag exactly the planted docs
    "text_length_outliers" -> ((s, dir) =>
      graft.ops.TextOps.iqrOutlierGate(Tables.docs(s, dir),
        col("n_chars") * when(col("doc_id") % 97 === 0, 50L).otherwise(1L),
        col("doc_id"))),

    // One-pass corpus stats card in long form
    "text_corpus_profile" -> ((s, dir) =>
      graft.ops.TextOps.corpusProfile(Tables.docs(s, dir), col("text"),
        col("source"), col("lang"))),

    // Token-budget mixture: src0 gets 3/5 of a 200k-token budget, src1 and
    // src2 1/5 each; every other source is dropped
    "o3_token_mixture" -> ((s, dir) =>
      graft.ops.SplitOps.tokenMixtureSample(Tables.docs(s, dir),
        col("source"), col("doc_id"),
        size(graft.ops.TextOps.tokens(col("text"))), seed = 17L,
        weights = Map("src0" -> 3.0, "src1" -> 1.0, "src2" -> 1.0),
        totalTokens = 200000L)
        .select("doc_id", "source")),

    // Upsampling: src0 and src1 repeated to fill a 2M-token budget at
    // 5:1 — epochs-plus-remainder, deterministic per (seed, doc)
    "o3_upsample" -> ((s, dir) =>
      graft.ops.SplitOps.upsampleMixture(Tables.docs(s, dir),
        col("source"), col("doc_id"),
        size(graft.ops.TextOps.tokens(col("text"))), seed = 19L,
        weights = Map("src0" -> 5.0, "src1" -> 1.0),
        totalTokens = 2000000L)
        .select("doc_id", "source", "copy")),

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
    })
  )

  /** Shared DSIR model CTEs: hashed-unigram bucket counts for target
    * (src0) and raw (all), Laplace-smoothed fixed-point log-ratio table —
    * the exact float-op order of [[graft.ops.TextOps.dsirWeights]]. */
  private val DsirSql =
    """tok AS (
      |  SELECT doc_id, source,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
      |  FROM documents),
      |tb AS (
      |  SELECT doc_id, source,
      |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS bucket
      |  FROM tok),
      |tc AS (SELECT bucket, count(*)::BIGINT AS tc FROM tb WHERE source = 'src0' GROUP BY 1),
      |sc AS (SELECT bucket, count(*)::BIGINT AS sc FROM tb GROUP BY 1),
      |tt AS (SELECT coalesce(sum(tc), 0)::DOUBLE AS t FROM tc),
      |st AS (SELECT coalesce(sum(sc), 0)::DOUBLE AS s FROM sc),
      |lr AS (
      |  SELECT sc.bucket,
      |    (round((ln((coalesce(tc.tc, 0) + 1)::DOUBLE / (tt.t + 4096.0)) -
      |            ln((sc.sc + 1)::DOUBLE / (st.s + 4096.0))) * 1000000, 0))::BIGINT AS lr6
      |  FROM sc LEFT JOIN tc USING (bucket) CROSS JOIN tt CROSS JOIN st),
      |w AS (
      |  SELECT tb.doc_id, count(*)::BIGINT AS n_tokens,
      |    sum(lr6)::DOUBLE / 1000000.0 AS log_w
      |  FROM tb JOIN lr USING (bucket)
      |  GROUP BY tb.doc_id)""".stripMargin

  /** JL projection CTE prefix: per-(vector, output-dim) signed dot against
    * the md5 (seed=42) plane convention of the LSH oracles, scaled by
    * 1/√16 = 0.25 exactly, plus the packed per-vector array form. */
  private[queries] val RpSql =
    """js AS (SELECT unnest(generate_series(0, 15)) AS j),
      |rp AS (
      |  SELECT e.vec_id, js.j,
      |    round(list_reduce(list_transform(generate_series(0, 63), i ->
      |      e.embedding[i + 1]::DOUBLE *
      |      (CASE WHEN (('0x' || substr(md5(concat_ws(':', 'plane', '42', js.j::VARCHAR, i::VARCHAR)), 1, 8))::BIGINT
      |                  / CAST(4294967296.0 AS DOUBLE)) >= 0.5
      |            THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)),
      |      (a, b) -> a + b) * 0.25, 6) AS val
      |  FROM embeddings e CROSS JOIN js),
      |rv AS (
      |  SELECT vec_id, list(val ORDER BY j) AS rvec FROM rp GROUP BY vec_id)""".stripMargin

  /** Top-5 ranking over `rv` rvec arrays — the sim_topk oracle shape. */
  private[queries] val RpTopkSql =
    """s AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(
      |      list_reduce(list_transform(list_zip(q.rvec, c.rvec),
      |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
      |      (sqrt(list_reduce(list_transform(q.rvec, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
      |       sqrt(list_reduce(list_transform(c.rvec, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
      |      6) AS cos
      |  FROM rv c CROSS JOIN (SELECT * FROM rv WHERE vec_id < 10) q
      |  WHERE c.vec_id <> q.vec_id),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) - 1 AS rank
      |  FROM s)""".stripMargin

  /** MinHash band chain (the dd_minhash_pairs oracle) — ends at
    * `mp(doc_a, doc_b)`, the id-ordered candidate pairs. */
  private[queries] val MinhashPairsSql =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
      |  FROM documents
      |),
      |shg AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(t) >= 3
      |              THEN list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))
      |              ELSE [array_to_string(t, ' ')] END) AS shs
      |  FROM toks
      |),
      |sig AS (
      |  SELECT doc_id,
      |         list_transform(generate_series(0, 15), j ->
      |           list_min(list_transform(shs, sgl ->
      |             (('0x' || substr(md5(sgl), 1, 15))::BIGINT
      |              + j * ('0x' || substr(md5(sgl), 17, 14))::BIGINT)
      |             % 1152921504606846976))) AS sg
      |  FROM shg
      |),
      |b AS (SELECT doc_id, sg, unnest(generate_series(0, 3)) AS band FROM sig),
      |bk AS (
      |  SELECT doc_id, band,
      |         md5(array_to_string(sg[band * 4 + 1 : band * 4 + 4], ',')) AS band_key
      |  FROM b
      |),
      |mp AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM bk x JOIN bk y
      |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
      |)""".stripMargin

  /** [[MinhashPairsSql]] + recursive connected components — ends at
    * `cl(doc_id, root)`, root = each component's min doc id.  Callers
    * prepend `WITH RECURSIVE `. */
  private[queries] val MinhashClusterSql = MinhashPairsSql +
    """,
      |e AS (SELECT doc_a AS a, doc_b AS b2 FROM mp UNION ALL SELECT doc_b, doc_a FROM mp),
      |n AS (SELECT DISTINCT a AS node FROM e),
      |reach(node, r) AS (
      |  SELECT node, node FROM n
      |  UNION
      |  SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.b2
      |),
      |cl AS (SELECT node AS doc_id, min(r) AS root FROM reach GROUP BY node)""".stripMargin

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

  /** Hashed-TF postings CTE (dim 4096, the dsir bucket hash). */
  private val TfSql =
    """tok AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
      |  FROM documents),
      |tb AS (
      |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS bucket
      |  FROM tok),
      |p AS (SELECT doc_id, bucket, count(*)::BIGINT AS tf FROM tb GROUP BY 1, 2)""".stripMargin

  val oracles: Map[String, String] = Map(

    "dd_embed_banded" ->
      """WITH bs AS (SELECT unnest(generate_series(0, 3)) AS band),
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
        |  FROM b x JOIN b y ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id),
        |s AS (
        |  SELECT c.vec_a, c.vec_b,
        |    round(
        |      list_reduce(list_transform(list_zip(ea.embedding, eb.embedding),
        |        z -> z[1]::DOUBLE * z[2]::DOUBLE), (a, b) -> a + b) /
        |      (sqrt(list_reduce(list_transform(ea.embedding, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b)) *
        |       sqrt(list_reduce(list_transform(eb.embedding, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))),
        |      6) AS cos
        |  FROM cand c
        |  JOIN embeddings ea ON ea.vec_id = c.vec_a
        |  JOIN embeddings eb ON eb.vec_id = c.vec_b)
        |SELECT vec_a, vec_b, cos FROM s WHERE cos >= 0.4""".stripMargin,

    "dd_tf_sparse" ->
      s"""WITH $TfSql
         |SELECT doc_id, bucket, tf FROM p""".stripMargin,

    "dd_tf_cosine" ->
      s"""WITH $MinhashPairsSql,
         |$TfSql,
         |norms AS (SELECT doc_id, sum(tf * tf) AS n2 FROM p GROUP BY 1),
         |num AS (
         |  SELECT mp.doc_a, mp.doc_b, sum(a.tf * b.tf) AS num
         |  FROM mp
         |  JOIN p a ON a.doc_id = mp.doc_a
         |  JOIN p b ON b.doc_id = mp.doc_b AND b.bucket = a.bucket
         |  GROUP BY 1, 2),
         |sc AS (
         |  SELECT doc_a, doc_b,
         |    round(num::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 6) AS cos
         |  FROM num
         |  JOIN norms na ON na.doc_id = doc_a
         |  JOIN norms nb ON nb.doc_id = doc_b)
         |SELECT doc_a, doc_b, cos FROM sc WHERE cos >= 0.5""".stripMargin,

    "text_quality_tiers_by" ->
      """WITH t AS (
        |  SELECT doc_id, lang, text,
        |         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |f AS (
        |  SELECT doc_id, lang,
        |    len(toks) AS n_tokens,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_cnt,
        |    len(list_filter(toks, x -> x IN ('the','a','an','and','of','to','in','is','for','on'))) AS stop_hits
        |  FROM t
        |),
        |q AS (
        |  SELECT doc_id, lang, round(
        |    0.4 * least(CAST(1.0 AS DOUBLE), n_tokens::DOUBLE / 200.0) +
        |    0.3 * (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_cnt::DOUBLE / greatest(n_tokens, 1)::DOUBLE)) +
        |    0.3 * least(CAST(1.0 AS DOUBLE), (stop_hits::DOUBLE / greatest(n_tokens, 1)::DOUBLE) * 5.0),
        |    6) AS quality
        |  FROM f
        |),
        |r AS (
        |  SELECT doc_id, lang AS cls, quality,
        |         row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) - 1 AS rk,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM q
        |)
        |SELECT doc_id, cls, quality, (rk * 3) // n AS tier FROM r""".stripMargin,

    "text_length_outliers" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    (n_chars * CASE WHEN doc_id % 97 = 0 THEN 50 ELSE 1 END)::BIGINT AS v
        |  FROM documents),
        |r AS (SELECT doc_id, v, row_number() OVER (ORDER BY v, doc_id) - 1 AS r FROM v),
        |n AS (SELECT count(*) AS n FROM v),
        |q AS (SELECT
        |  (SELECT v FROM r WHERE r = (SELECT (n - 1) // 4 FROM n)) AS q1,
        |  (SELECT v FROM r WHERE r = (SELECT 3 * (n - 1) // 4 FROM n)) AS q3)
        |SELECT doc_id, v,
        |  (v < q1 - 3 * (q3 - q1) OR v > q3 + 3 * (q3 - q1)) AS is_outlier
        |FROM v CROSS JOIN q""".stripMargin,

    "text_corpus_profile" ->
      """WITH b AS (
        |  SELECT count(*)::BIGINT AS n_docs,
        |    coalesce(sum(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))), 0)::BIGINT AS n_tokens,
        |    coalesce(sum(length(text)), 0)::BIGINT AS n_chars,
        |    sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)::BIGINT AS n_empty
        |  FROM documents)
        |SELECT 'n_docs' AS stat, n_docs::DOUBLE AS value FROM b
        |UNION ALL SELECT 'n_tokens', n_tokens::DOUBLE FROM b
        |UNION ALL SELECT 'n_chars', n_chars::DOUBLE FROM b
        |UNION ALL SELECT 'n_empty_text', n_empty::DOUBLE FROM b
        |UNION ALL SELECT 'mean_doc_tokens', n_tokens::DOUBLE / n_docs::DOUBLE FROM b
        |UNION ALL SELECT 'n_sources', count(DISTINCT source)::DOUBLE FROM documents
        |UNION ALL SELECT 'n_langs', count(DISTINCT lang)::DOUBLE FROM documents""".stripMargin,

    "o3_token_mixture" ->
      s"""WITH c AS (
         |  SELECT source AS cls,
         |    sum(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')))::DOUBLE AS toks
         |  FROM documents GROUP BY 1),
         |f AS (
         |  SELECT cls,
         |    round(least(1.0, 200000.0 *
         |      (CASE cls WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.0 WHEN 'src2' THEN 1.0 END)
         |      / 5.0 / toks), 6) AS fr
         |  FROM c WHERE cls IN ('src0', 'src1', 'src2'))
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN f ON f.cls = d.source
         |WHERE ${graft.core.Rng.Md5.uniformSql(17L, "tokmix", Seq("d.doc_id"))} < f.fr""".stripMargin,

    "o3_upsample" ->
      s"""WITH c AS (
         |  SELECT source AS cls,
         |    sum(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')))::DOUBLE AS toks
         |  FROM documents GROUP BY 1),
         |f AS (
         |  SELECT cls,
         |    round(2000000.0 *
         |      (CASE cls WHEN 'src0' THEN 5.0 WHEN 'src1' THEN 1.0 END)
         |      / 6.0 / toks, 6) AS fr
         |  FROM c WHERE cls IN ('src0', 'src1')),
         |r AS (
         |  SELECT d.doc_id, d.source,
         |    (floor(f.fr)::INT + CASE
         |       WHEN ${graft.core.Rng.Md5.uniformSql(19L, "upsamp", Seq("d.doc_id"))} < f.fr - floor(f.fr)
         |       THEN 1 ELSE 0 END) AS reps
         |  FROM documents d JOIN f ON f.cls = d.source)
         |SELECT doc_id, source, u::BIGINT AS copy
         |FROM (SELECT doc_id, source, unnest(generate_series(0, reps - 1)) AS u
         |      FROM r WHERE reps > 0)""".stripMargin,

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

    "text_dsir_weights" ->
      s"""WITH $DsirSql
         |SELECT doc_id, n_tokens, log_w FROM w""".stripMargin,

    "text_dsir_select" ->
      s"""WITH $DsirSql
         |SELECT doc_id, n_tokens, log_w FROM w
         |ORDER BY log_w DESC, doc_id LIMIT 500""".stripMargin,

    // minhash band chain (the dd_minhash_pairs oracle) -> recursive CC
    // (the dd_fuzzy_keep pattern) -> arg-max keeper on the integer
    // composite key n_chars * 1e10 - doc_id (longest member, id tie-break)
    "dd_keep_longest" ->
      s"""WITH RECURSIVE $MinhashClusterSql,
         |best AS (
         |  SELECT cl.root,
         |         arg_max(cl.doc_id, d.n_chars * 10000000000 - cl.doc_id) AS best_id
         |  FROM cl JOIN documents d USING (doc_id) GROUP BY cl.root),
         |losers AS (
         |  SELECT cl.doc_id FROM cl JOIN best ON best.root = cl.root
         |  WHERE cl.doc_id <> best.best_id)
         |SELECT doc_id, source, lang FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin,

    "dd_cluster_sizes" ->
      s"""WITH RECURSIVE $MinhashClusterSql,
         |sz AS (SELECT root, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1)
         |SELECT cluster_size, count(*)::BIGINT AS n_clusters
         |FROM sz GROUP BY 1""".stripMargin,

    // same cluster chain; split hashes on the cluster min-id label
    "p3_cluster_split" ->
      s"""WITH RECURSIVE $MinhashClusterSql
         |SELECT doc_id,
         |  CASE WHEN u < 0.8 THEN 'train'
         |       WHEN u < 0.9 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (
         |  SELECT d.doc_id,
         |    ${graft.core.Rng.Md5.uniformSql(42L, "split",
                 Seq("coalesce(cl.root, d.doc_id)"))} AS u
         |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)""".stripMargin,

    "text_dsir_incremental" ->
      s"""WITH $DsirSql
         |SELECT doc_id, n_tokens, log_w FROM w WHERE doc_id % 2 = 1""".stripMargin,

    "text_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), s -> s <> '') AS toks
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, source, unnest(generate_series(1, len(toks) - 1)) AS i, toks
        |  FROM t WHERE len(toks) >= 2),
        |bg AS (SELECT doc_id, source, toks[i] AS w1, toks[i + 1] AS w2 FROM x),
        |c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg WHERE source = 'src0' GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM bg WHERE source = 'src0' GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok)::DOUBLE AS v FROM (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), s -> s <> '')) AS tok
        |  FROM documents WHERE source = 'src0')),
        |lp AS (
        |  SELECT bg.doc_id,
        |    (round(ln((coalesce(c12.c12, 0) + 1)::DOUBLE /
        |               (coalesce(c1.c1, 0)::DOUBLE + v.v)) * 1000000, 0))::BIGINT AS lp6
        |  FROM bg LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  sum(lp6)::DOUBLE / (1000000.0 * count(*)::DOUBLE) AS mean_lp
        |FROM lp GROUP BY doc_id""".stripMargin,

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
         |es AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    round(
         |      list_reduce(list_transform(list_zip(q.embedding, e.embedding),
         |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
         |      (sqrt(list_reduce(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
         |       sqrt(list_reduce(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
         |      6) AS cos
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
  )
}
