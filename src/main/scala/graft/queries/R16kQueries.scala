package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, EmbedOps, SplitOps, TextOps}

/** Round-16k: curriculum scheduling, the end-to-end SFT packing pipeline
  * (gate → exact dedup → boundary-respecting pack in ONE plan), and an
  * oracle gate for the PCA/whitening tier (fit invariants + whitened
  * variance asserted in-plan; the fixed-point-exact covariance trace
  * replayed by SQL). */
object R16kQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // curriculum schedule: length-as-difficulty, 8 equal-depth buckets,
    // round-robin interleave — closed-form integer arithmetic over one
    // global rank, exactly replayed by the oracle
    "text_curriculum" -> ((s, dir) =>
      SplitOps.curriculumOrder(Tables.docs(s, dir), col("n_chars"),
        col("doc_id"), nBuckets = 8)),

    // the SFT data-prep pipeline in one plan: quality gate -> exact dedup
    // keep -> whole-document shelf packing of the survivors
    "pipeline_sft_pack" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val gated = TextOps.filterPipeline(d, col("text"), col("doc_id"),
          minTokens = 20L, maxTokens = 1000L, minQuality = 0.5,
          langs = Seq("en", "de", "es", "fr"))
        .select("doc_id")
      val kept = DedupOps.exactDedup(d, col("text"), col("doc_id"))
        .select("doc_id")
      val survivors = d.join(gated, "doc_id").join(kept, "doc_id")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      TextOps.packBinsShelf(survivors, col("n_tokens"), col("doc_id"), 128L)
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
    })
  )

  def oracles: Map[String, String] = Map(

    "text_curriculum" ->
      """WITH n AS (SELECT count(*)::BIGINT AS n FROM documents),
        |r AS (
        |  SELECT doc_id, row_number() OVER (
        |    ORDER BY n_chars, doc_id) - 1 AS rk
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, (rk * 8 // (SELECT n FROM n))::BIGINT AS bucket,
        |    rk FROM r)
        |SELECT doc_id, bucket,
        |  (rk - (bucket * (SELECT n FROM n) + 7) // 8)::BIGINT
        |    AS pos_in_bucket,
        |  ((rk - (bucket * (SELECT n FROM n) + 7) // 8) * 8 + bucket)::BIGINT
        |    AS sched_key
        |FROM b""".stripMargin,

    "pipeline_sft_pack" -> {
      val gate = PipelineQueries.oracles("text_filter_pipeline")
      s"""WITH surv AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x <> ''))::BIGINT AS n_tokens
         |  FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM ($gate))
         |    AND doc_id IN (
         |      SELECT min(doc_id) FROM documents GROUP BY md5(text))),
         |c AS (
         |  SELECT doc_id, n_tokens, (128 // n_tokens)::BIGINT AS size_class
         |  FROM surv),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY size_class ORDER BY doc_id) - 1 AS cr
         |  FROM c)
         |SELECT doc_id, n_tokens, size_class,
         |  (cr // size_class)::BIGINT AS bin_in_class,
         |  (cr % size_class)::BIGINT AS slot
         |FROM r""".stripMargin
    },

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
        |  true AS pca_ok""".stripMargin
  )
}
