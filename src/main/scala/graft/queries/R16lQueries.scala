package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{EmbedOps, SimilarityOps, SplitOps, TextOps}

/** Round-16l: mergeability proof for the ML sufficient-statistics tier
  * (Gram partials over corpus slices sum to the whole-corpus statistics —
  * what makes incremental PCA possible without ever re-scanning history)
  * and per-group shelf packing (multilingual SFT: bins never mix
  * languages). */
object R16lQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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

    // per-language shelf packing: same closed form as text_pack_shelf
    // with the size class keyed by (lang, q) — bins never mix languages
    "text_pack_shelf_lang" -> ((s, dir) =>
      TextOps.packBinsShelfBy(
        Tables.docs(s, dir).select(col("lang"), col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
        col("lang"), col("n_tokens"), col("doc_id"), 128L)),

    // per-language FFD packing gauge: the text_pack_ffd invariants held
    // PER LANGUAGE, plus group isolation (no bin mixes languages — true
    // by construction, asserted anyway via the count identity)
    "text_pack_ffd_lang" -> ((s, dir) => {
      val packed = TextOps.packBinsFfdBy(
        Tables.docs(s, dir).select(col("lang"), col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
        col("lang"), col("n_tokens"), col("doc_id"), 128L, subGroups = 4)
      val bins = packed.groupBy("grp", "sub", "bin_in_group")
        .agg(sum("n_tokens").as("fill"))
      val halfPer = bins.groupBy("grp", "sub")
        .agg(sum(when(col("fill") <= 64L, 1L).otherwise(0L)).as("nhalf"))
      val perLang = packed.groupBy("grp").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("doc_id")).as("n_distinct"),
        sum(col("n_tokens")).as("total_tokens"))
      val binAgg = bins.groupBy("grp").agg(count(lit(1)).as("bins_used"),
        max(col("fill")).as("max_fill"))
      val halfAgg = halfPer.groupBy("grp").agg(max("nhalf").as("max_half"))
      perLang.join(binAgg, "grp").join(halfAgg, "grp")
        .select(col("grp").as("lang"), col("n_docs"), col("total_tokens"),
          (col("n_distinct") === col("n_docs") &&
            col("max_fill") <= 128L &&
            col("bins_used") >=
              ceil(col("total_tokens").cast("double") / 128L) &&
            col("bins_used") <= col("n_docs") &&
            col("max_half") <= 1L).as("packing_ok"))
    }),

    // hard negatives at corpus scale: every vector is a query, candidates
    // from the IVF cell join (sim_knn_join's physical shape), label filter
    // ahead of the rank window
    "sim_hard_neg_ivf" -> ((s, dir) =>
      // served from the landed layout (Tables.hardNegIvf32) — identical
      // mining pass, committed once per corpus
      Tables.hardNegIvf32(s, dir)),

    // The contrastive-curation pipeline in ONE plan: IVF hard negatives →
    // prototype margin (cos to the OWN-label exact centroid minus the
    // hardest negative — the scale-correct margin: one |labels|-sized
    // centroid join instead of all same-label pairs) → curriculum buckets
    // over the margin (largest margin = easiest first).  Every stage is
    // individually oracle-gated; this chains their SQL end to end.
    "pipeline_contrastive" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val hardest = Tables.hardNegIvf32(s, dir)
        .groupBy("query_id").agg(max(col("cos")).as("hneg"))
      val cv = EmbedOps.centroids(e, col("embedding"),
          col("label").cast("long"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(
          struct(col("dim"), col("centroid")))), x => x("centroid"))
          .as("cv"))
      // persisted (lazy): margins feeds curriculumOrder AND the final
      // re-attach join — uncached, the entire margin pipeline (including
      // the IVF hard-negative stage) would run twice
      val margins = graft.core.CacheScope.persist(e
        .select(col("vec_id").as("query_id"), col("embedding"),
          col("label").cast("long").as("label"))
        .join(broadcast(cv), "label")
        .select(col("query_id"),
          round(SimilarityOps.cosine(col("embedding"), col("cv")), 6)
            .as("pcos"))
        .join(hardest, "query_id")
        .select(col("query_id"),
          round(col("pcos") - col("hneg"), 6).as("margin")))
      SplitOps.curriculumOrder(margins, lit(1.0) - col("margin"),
          col("query_id"), nBuckets = 4)
        .join(margins, col("doc_id") === col("query_id"))
        .select(col("query_id"), col("margin"), col("bucket"),
          col("sched_key"))
    })
  )

  def oracles: Map[String, String] = Map(

    // the DIRECT whole-corpus replay (emb_gram's grammar) — merged
    // partials must hash-equal it
    "emb_gram_merge" ->
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
        |UNION ALL SELECT i, j, q FROM n""".stripMargin,

    "text_pack_shelf_lang" ->
      """WITH t AS (
        |  SELECT lang AS grp, doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT grp, doc_id, n_tokens,
        |    (128 // n_tokens)::BIGINT AS size_class
        |  FROM t),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY grp, size_class ORDER BY doc_id) - 1 AS cr
        |  FROM c)
        |SELECT grp, doc_id, n_tokens, size_class,
        |  (cr // size_class)::BIGINT AS bin_in_class,
        |  (cr % size_class)::BIGINT AS slot
        |FROM r""".stripMargin,

    "text_pack_ffd_lang" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_tokens)::BIGINT AS total_tokens,
        |  true AS packing_ok
        |FROM t GROUP BY lang""".stripMargin,

    // KnnJoinSql's grammar (flat cell assignment + 2-probe selection)
    // with the different-label filter ahead of the rank window
    "sim_hard_neg_ivf" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv
         |  FROM embeddings WHERE vec_id < 32),
         |asg0 AS (
         |  SELECT e.vec_id AS neighbor_id, e.embedding AS nv,
         |    e.label AS nl, c.centroid_id,
         |    ${R12Queries.cosSql("e.embedding", "c.cv")} AS acos
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
         |    ${R12Queries.cosSql("qp.qv", "a.nv")} AS cos
         |  FROM asg a JOIN qp ON a.centroid_id = qp.centroid_id
         |  WHERE a.neighbor_id <> qp.query_id AND a.nl <> qp.ql
         |),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) - 1 AS rank
         |  FROM s
         |)
         |SELECT query_id, neighbor_id, cos, rank FROM r
         |WHERE rank < 3""".stripMargin,

    // the stages' own SQL chained: hard-negative candidates → hardest per
    // query (max over candidates == max over the top-k) → exact own-label
    // centroid → prototype margin → the curriculum closed form
    "pipeline_contrastive" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv
         |  FROM embeddings WHERE vec_id < 32),
         |asg0 AS (
         |  SELECT e.vec_id AS neighbor_id, e.embedding AS nv,
         |    e.label AS nl, c.centroid_id,
         |    ${R12Queries.cosSql("e.embedding", "c.cv")} AS acos
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
         |    ${R12Queries.cosSql("qp.qv", "a.nv")} AS cos
         |  FROM asg a JOIN qp ON a.centroid_id = qp.centroid_id
         |  WHERE a.neighbor_id <> qp.query_id AND a.nl <> qp.ql
         |),
         |hn AS (SELECT query_id, max(cos) AS hneg FROM s GROUP BY 1),
         |cx AS (
         |  SELECT label::BIGINT AS label,
         |    unnest(generate_series(1, len(embedding))) AS i,
         |    embedding AS e
         |  FROM embeddings),
         |cm AS (
         |  SELECT label, CAST(i - 1 AS BIGINT) AS dim,
         |    CAST(floor(e[i]::DOUBLE * 1000000.0) AS BIGINT) AS m
         |  FROM cx),
         |ct AS (
         |  SELECT label, dim,
         |    CAST(sum(m) AS DOUBLE) / (count(*)::DOUBLE * 1000000.0)
         |      AS centroid
         |  FROM cm GROUP BY label, dim),
         |cvl AS (SELECT label, list(centroid ORDER BY dim) AS cvv
         |  FROM ct GROUP BY 1),
         |mg AS (
         |  SELECT e.vec_id AS query_id,
         |    round(${R12Queries.cosSql("e.embedding", "cvl.cvv")} - hn.hneg,
         |      6) AS margin
         |  FROM embeddings e
         |  JOIN cvl ON cvl.label = e.label::BIGINT
         |  JOIN hn ON hn.query_id = e.vec_id),
         |n AS (SELECT count(*)::BIGINT AS n FROM mg),
         |rk AS (
         |  SELECT query_id, margin, row_number() OVER (
         |    ORDER BY 1.0 - margin, query_id) - 1 AS rk
         |  FROM mg),
         |bk AS (
         |  SELECT query_id, margin,
         |    (rk * 4 // (SELECT n FROM n))::BIGINT AS bucket, rk
         |  FROM rk)
         |SELECT query_id, margin, bucket,
         |  ((rk - (bucket * (SELECT n FROM n) + 3) // 4) * 4 + bucket)::BIGINT
         |    AS sched_key
         |FROM bk""".stripMargin
  )
}
