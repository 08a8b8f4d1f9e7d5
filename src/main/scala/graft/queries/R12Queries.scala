package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, EmbedOps, MultimodalOps, SimilarityOps, SplitOps, TextOps}
import graft.streaming.StreamingOps

/** Round-12 queries: the persisted IVF-PQ index (codes partitioned by
  * coarse cell + both quantizers stored inside the index, so a search is
  * partition pruning over int codes), Hamming-tolerant media near-dup
  * pairs (the aHash fingerprint under SimHash-style band blocking), the
  * large×large IVF kNN join, semantic centroid-outlier pruning,
  * cross-source duplication provenance, OOV-rate vocabulary coverage,
  * PMI collocations, and the exact-count split.
  */
object R12Queries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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

    // Cross-source duplication matrix over MinHash candidate pairs: which
    // source pairs mirror each other (provenance for mixture decisions)
    "dd_source_matrix" -> ((s, dir) =>
      DedupOps.crossSourceDupMatrix(Tables.minhashCands(s, dir),
        Tables.docs(s, dir), col("doc_id"), col("source"))),

    // Vocabulary-coverage gate: OOV rate of every document against the
    // top-500 tokens of the English slice (broadcast vocabulary)
    "text_oov_rate" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      TextOps.oovRate(d, col("text"), col("doc_id"),
        d.where(col("lang") === "en"), col("text"), vocabSize = 500)
    }),

    // PMI collocations: top-50 bigrams by pointwise mutual information
    // with count >= 3 (Church & Hanks 1990)
    "text_pmi_top" -> ((s, dir) =>
      TextOps.pmiTop(Tables.docs(s, dir), col("text"), k = 50, minCount = 3L)),

    // Exact-count split: test gets exactly 50 docs, val exactly 25, the
    // rest train — deterministic md5 order, range-partitioned rank
    "p3_exact_split" -> ((s, dir) =>
      SplitOps.exactSplit(Tables.docs(s, dir)
          .select(col("doc_id"), col("source")),
        col("doc_id"), seed = 7L,
        counts = Seq("test" -> 50L, "val" -> 25L))),

    // Deterministic shuffled shard layout for training export: 8 shards,
    // hash-assigned, hash-ordered within shard (WebDataset convention)
    "o5_export_shards" -> ((s, dir) =>
      SplitOps.exportShards(Tables.docs(s, dir).select(col("doc_id")),
        col("doc_id"), seed = 5L, nShards = 8)),

    // Recency-weighted per-user activity mass over the events stream
    // (half-life 7 days, exact micro-unit sums)
    "ev_recency_weights" -> ((s, dir) =>
      StreamingOps.recencyWeights(Tables.events(s, dir),
        halfLifeDays = 7.0)),

    // kNN join against a PERSISTED IVF index: right side pre-assigned and
    // pre-partitioned on centroid_id, probed with the index's own
    // quantizer — same output as sim_knn_join
    "sim_knn_join_persisted" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val idx = R9Queries.runTmp + "/knnj_index_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
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
      val idx = R9Queries.runTmp + "/ivfpq_index_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      IndexBuilds.once(s"sim_ivfpq_persisted:$dir") {
        SimilarityOps.ivfPqIndexWrite(e, col("embedding"), col("vec_id"),
          e.where(col("vec_id") < 8), col("embedding"), col("vec_id"),
          pqCodebooks(s, dir), m = 4, subDim = 16, idx)
      }
      SimilarityOps.ivfPqSearchIndex(s, idx,
        e.where(col("vec_id") < 10), col("embedding"), col("vec_id"),
        k = 5, subDim = 16, nprobe = 2)
    }),

    // Media near-dups within Hamming distance 3 of a 16-bit aHash:
    // 4x4-bit band blocking (exact recall at <=3 by pigeonhole) +
    // popcount(xor) confirm — the tolerant tier above mm_ahash_pairs.
    // DELIBERATELY 16-bit: the md5-fake stub kernel only yields 16
    // bytes of features, and this row exists to pin the banding
    // mechanics over the synthetic seam.  The PRODUCTION shape — what
    // Tables.nearDupPairs lands and every real-codec mm_*_ahash_banded
    // query registers — is the 64-bit hash with 16-bit band keys
    // (quadratic-candidate-proof; see MultimodalOps.aHashBandedPairs)
    "mm_ahash_banded" -> ((s, dir) =>
      MultimodalOps.aHashBandedPairs(
        MultimodalOps.stubDecode(
          MultimodalOps.withPayload(Tables.docs(s, dir), col("text")),
          col("payload"), col("doc_id"), dim = 16).toDF(),
        col("doc_id"), bits = 16, bands = 4, maxHamming = 3))
  )

  /** Fixed PQ codebooks — same construction as R11Queries.pqCodebooks
    * (vec_id < 4 embeddings sliced 4x16). */
  private def pqCodebooks(s: SparkSession, dir: String): DataFrame =
    Tables.emb(s, dir).where(col("vec_id") < 4)
      .select(col("vec_id").as("code_id"), col("embedding").as("e"))
      .select(explode(sequence(lit(0), lit(3))).as("sub"), col("code_id"),
        col("e"))
      .select(col("sub"), col("code_id"),
        slice(col("e"), col("sub") * 16 + 1, lit(16)).as("cv"))

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

  /** Tokenizer mirror: `list_filter(string_split_regex(lower(x),'\s+'),
    * t -> t <> '')` — the convention of every text oracle. */
  private def toksSql(x: String): String =
    s"""list_filter(string_split_regex(lower($x), '\\s+'), t -> t <> '')"""

  /** kNN-join mirror (self-join form over embeddings, 32 fixed centroids,
    * nprobe=2, k=3): cell assignment AND probe selection = rank over ALL
    * centroids (the flat pass); shared by `sim_knn_join` and its
    * persisted-index layout twin. */
  private lazy val KnnJoinSql: String =
    s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 32),
       |asg0 AS (
       |  SELECT e.vec_id AS neighbor_id, e.embedding AS nv, c.centroid_id,
       |    ${cosSql("e.embedding", "c.cv")} AS acos
       |  FROM embeddings e CROSS JOIN c
       |),
       |asg AS (
       |  SELECT neighbor_id, nv, centroid_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY acos DESC, centroid_id) AS rn
       |    FROM asg0) WHERE rn = 1
       |),
       |qp AS (
       |  SELECT neighbor_id AS query_id, nv AS qv, centroid_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY acos DESC, centroid_id) AS rn
       |    FROM asg0) WHERE rn <= 2
       |),
       |s AS (
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

  /** The ROUTED kNN-join mirror (`sim_knn_join_routed`): cell assignment
    * = flat rank-1 (as built/persisted), probe selection = the TWO-LEVEL
    * route the Spark side runs (coarse = first-6 centroid prefix,
    * routeProbe=3 forward routes + identity routes, rank-1 coarse pick
    * per query, top-2 fine probes among the routed candidates only). */
  private lazy val KnnJoinRoutedSql: String =
    s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 32),
       |g AS (SELECT vec_id AS coarse_id, embedding AS gv FROM embeddings WHERE vec_id < 6),
       |asg0 AS (
       |  SELECT e.vec_id AS neighbor_id, e.embedding AS nv, c.centroid_id,
       |    ${cosSql("e.embedding", "c.cv")} AS acos
       |  FROM embeddings e CROSS JOIN c
       |),
       |asg AS (
       |  SELECT neighbor_id, nv, centroid_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY acos DESC, centroid_id) AS rn
       |    FROM asg0) WHERE rn = 1
       |),
       |routes0 AS (
       |  SELECT coarse_id, centroid_id, cv FROM (
       |    SELECT c.centroid_id, c.cv, g.coarse_id,
       |      row_number() OVER (PARTITION BY c.centroid_id ORDER BY
       |        ${cosSql("c.cv", "g.gv")} DESC, g.coarse_id) AS rn
       |    FROM c CROSS JOIN g) WHERE rn <= 3),
       |routes AS (
       |  SELECT coarse_id, centroid_id, cv FROM routes0
       |  UNION
       |  SELECT coarse_id, coarse_id AS centroid_id, gv AS cv FROM g),
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
       |s AS (
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

  def oracles: Map[String, String] = Map(

    // identical semantics to the in-memory composed search — the index is
    // a layout, not a different algorithm
    "sim_ivfpq_persisted" -> R11Queries.oracles("sim_ivfpq_topk"),

    "sim_knn_join" -> KnnJoinSql,

    "sim_knn_join_routed" -> KnnJoinRoutedSql,

    // the index is a layout, not a different algorithm: same oracle
    "sim_knn_join_persisted" -> KnnJoinSql,

    "emb_outliers" ->
      s"""WITH x AS (
         |  SELECT label::BIGINT AS label,
         |         unnest(generate_series(1, len(embedding))) AS i,
         |         embedding AS e
         |  FROM embeddings
         |),
         |m AS (
         |  SELECT label, CAST(i - 1 AS BIGINT) AS dim,
         |         CAST(floor(e[i]::DOUBLE * 1000000.0) AS BIGINT) AS m
         |  FROM x
         |),
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

    "dd_source_matrix" ->
      s"""WITH ${R10cQueries.MinhashPairsSql},
         |p AS (
         |  SELECT da.source AS sa, db.source AS sb
         |  FROM mp
         |  JOIN documents da ON da.doc_id = mp.doc_a
         |  JOIN documents db ON db.doc_id = mp.doc_b
         |)
         |SELECT least(sa, sb) AS src_a, greatest(sa, sb) AS src_b,
         |  count(*) AS n_pairs
         |FROM p GROUP BY 1, 2""".stripMargin,

    "text_oov_rate" ->
      s"""WITH rt AS (
         |  SELECT unnest(${toksSql("text")}) AS tok
         |  FROM documents WHERE lang = 'en'
         |),
         |vc AS (SELECT tok, count(*) AS c FROM rt GROUP BY tok),
         |v AS (SELECT tok, 1 AS inv FROM vc ORDER BY c DESC, tok LIMIT 500),
         |ct AS (
         |  SELECT doc_id, unnest(${toksSql("text")}) AS tok FROM documents
         |),
         |j AS (
         |  SELECT ct.doc_id, v.inv FROM ct LEFT JOIN v ON ct.tok = v.tok
         |)
         |SELECT doc_id, count(*) AS n_tokens,
         |  round(sum(CASE WHEN inv IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS oov_rate
         |FROM j GROUP BY doc_id""".stripMargin,

    "text_pmi_top" ->
      s"""WITH toks AS (SELECT ${toksSql("text")} AS t FROM documents),
         |bg AS (
         |  SELECT t[i] AS w1, t[i + 1] AS w2
         |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 2)
         |),
         |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2 HAVING count(*) >= 3),
         |nb AS (SELECT count(*)::DOUBLE AS nb FROM bg),
         |uni AS (
         |  SELECT tok, count(*) AS c FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
         |),
         |nt AS (SELECT sum(c)::DOUBLE AS nt FROM uni),
         |p AS (
         |  SELECT bc.w1, bc.w2, bc.c12,
         |    round(ln((bc.c12::DOUBLE * nt.nt * nt.nt) /
         |      (nb.nb * u1.c::DOUBLE * u2.c::DOUBLE)), 6) AS pmi
         |  FROM bc
         |  JOIN uni u1 ON bc.w1 = u1.tok
         |  JOIN uni u2 ON bc.w2 = u2.tok
         |  CROSS JOIN nb CROSS JOIN nt
         |)
         |SELECT w1, w2, c12, pmi FROM p
         |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,

    "p3_exact_split" -> {
      val sk = graft.core.Rng.Md5.sortKeySql(7L, "exact_split", Seq("doc_id"))
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (ORDER BY $sk, doc_id) - 1 AS xr
         |  FROM documents
         |)
         |SELECT doc_id, source,
         |  CASE WHEN xr < 50 THEN 'test'
         |       WHEN xr < 75 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM r""".stripMargin
    },

    "o5_export_shards" -> {
      val sk = graft.core.Rng.Md5.sortKeySql(5L, "shard", Seq("doc_id"))
      s"""WITH r AS (SELECT doc_id, $sk AS sk FROM documents),
         |s AS (
         |  SELECT doc_id, sk,
         |    ('0x' || substr(sk, 1, 8))::BIGINT % 8 AS shard
         |  FROM r
         |)
         |SELECT doc_id, shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY sk, doc_id) - 1 AS pos
         |FROM s""".stripMargin
    },

    "ev_recency_weights" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |mx AS (SELECT max(ms) AS mx FROM e),
        |w AS (
        |  SELECT user_id,
        |    CAST(floor(round(
        |      exp(-0.6931471805599453 * (mx.mx - e.ms) / (7.0 * 86400000.0)),
        |      6) * 1000000.0) AS BIGINT) AS w6
        |  FROM e CROSS JOIN mx
        |)
        |SELECT user_id, count(*) AS n_events,
        |  sum(w6)::DOUBLE / 1000000.0 AS recency_mass
        |FROM w GROUP BY user_id""".stripMargin,

    // banding at 4 bands is lossless for Hamming <= 3, so the ground truth
    // is the direct all-pairs Hamming filter over the same aHash
    "mm_ahash_banded" ->
      s"""WITH ${R11Queries.AHashSql}
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
         |FROM a x JOIN a y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.ahash, y.ahash)) <= 3""".stripMargin
  )
}
