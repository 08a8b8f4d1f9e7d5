package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.PiiOps

/** Round-10 (second half) queries: the pipeline-hygiene tier — PII
  * scrubbing, classifier-based labeling, sketch-confirmed heavy hitters,
  * stratified/temperature sampling.
  *
  * The synthetic `documents` corpus contains no natural PII, so the PII
  * queries PLANT deterministic PII derived from `doc_id` — the exact same
  * construction in the Spark plan and the oracle SQL — so the detectors do
  * real pattern work and the redacted output is doc-specific.
  */
object R10bQueries extends QuerySet {

  /** documents with planted PII: email on doc_id%2=0, IPv4 on %3=0,
    * phone on %5=0 (mirrored verbatim in [[PiiAugSql]]). */
  private def piiDocs(s: SparkSession, dir: String): DataFrame =
    Tables.docs(s, dir).withColumn("ptext",
      concat(col("text"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit(" via 10."), (col("doc_id") % 200).cast("string"),
            lit(".0."), (col("doc_id") % 250).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" tel +1 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))

  private val PiiAugSql =
    """aug AS (
      |  SELECT doc_id,
      |    text ||
      |    CASE WHEN doc_id % 2 = 0
      |         THEN ' contact user' || doc_id::VARCHAR || '@example.com'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 3 = 0
      |         THEN ' via 10.' || (doc_id % 200)::VARCHAR || '.0.' || (doc_id % 250)::VARCHAR
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0
      |         THEN ' tel +1 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
      |              '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
      |         ELSE '' END AS ptext
      |  FROM documents)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PII scan: per-document email / IPv4 / phone match counts over the
    // planted corpus — pure codegen'd regexp columns, no shuffle
    "text_pii_scan" -> ((s, dir) =>
      PiiOps.scan(piiDocs(s, dir), col("ptext"), col("doc_id"))),

    // PII redaction: sentinel replacement in detector order; output is the
    // doc-specific cleaned text (hash-compared verbatim)
    "text_pii_redact" -> ((s, dir) =>
      PiiOps.redact(piiDocs(s, dir), col("ptext"), col("doc_id"))),

    // Multinomial NB domain classifier: train on (text, source), score the
    // same corpus — model table broadcast, smoothing mass in closed form
    "ml_nb_classify" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      graft.ops.MlOps.nbClassify(d, col("text"), col("source"),
        d, col("text"), col("doc_id"))
    }),

    // Exact heavy hitters via per-partition Misra-Gries + candidate-only
    // exact confirm: tokens with frequency >= 3% of the corpus
    "text_heavy_hitters" -> ((s, dir) =>
      graft.ops.TextOps.heavyHitters(Tables.docs(s, dir), col("text"),
        phi = 0.03)),

    // Stratified Bernoulli sample: named per-source keep fractions, the
    // rest at 10% — pure hash predicate, no shuffle
    "p3_stratified" -> ((s, dir) =>
      graft.ops.SplitOps.stratifiedSample(Tables.docs(s, dir),
        col("source"), col("doc_id"), seed = 7L,
        fractions = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        default = 0.1)
        .select("doc_id", "source")),

    // Temperature-rebalanced domain mix (alpha = 0.5): kept counts
    // ∝ n_src^0.5, smallest source kept whole
    "o3_temperature" -> ((s, dir) =>
      graft.ops.SplitOps.temperatureSample(Tables.docs(s, dir),
        col("source"), col("doc_id"), seed = 11L, alpha = 0.5)
        .select("doc_id", "source")),

    // Exact per-domain quota: a deterministic uniform <=8 docs per source
    // (WindowGroupLimit keeps the per-class state at O(k))
    "p3_quota" -> ((s, dir) =>
      graft.ops.SplitOps.quotaSample(Tables.docs(s, dir),
        col("source"), col("doc_id"), seed = 13L, k = 8)
        .select("doc_id", "source")),

    // Context-window chunking: 16-token windows, 4-token overlap — the
    // RAG/pretraining chunker as a pure narrow plan
    "text_chunks" -> ((s, dir) =>
      graft.ops.TextOps.chunkDocs(Tables.docs(s, dir), col("text"),
        col("doc_id"), chunkTokens = 16, overlap = 4)),

    // Exact tier of the incremental-dedup ladder: even docs indexed, the
    // shard = odd docs + planted copies of even texts under new ids; the
    // Bloom prefilter sends only maybe-rows to the (broadcast-semi) join
    "dd_incremental_exact" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val idx = R9Queries.runTmp + "/ex_index_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      IndexBuilds.once(s"dd_incremental_exact:$dir") {
        graft.ops.DedupOps.exactIndexWrite(
          d.where(col("doc_id") % 2 === 0), col("text"), col("doc_id"), idx)
      }
      val shard = d.where(col("doc_id") % 2 === 0 && col("doc_id") < 100)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        .unionByName(
          d.where(col("doc_id") % 2 === 1).select("doc_id", "text"))
      graft.ops.DedupOps.exactNewAgainst(idx, shard, col("text"),
        col("doc_id")).select("doc_id")
    }),

    // Sketch-based per-source vocabulary size: the HLL++ estimate must
    // land within 5% of exact (invariant oracle — the exact count is
    // DuckDB-replayable, the bound check must come out true)
    "text_approx_distinct" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val approx = graft.ops.TextOps.approxDistinctTokens(
        d, col("text"), col("source"), rsd = 0.02)
      val exact = d.select(col("source").as("cls"),
        explode(graft.ops.TextOps.tokens(col("text"))).as("tok"))
        .groupBy("cls").agg(countDistinct(col("tok")).as("n_exact"))
      exact.join(approx, "cls")
        .select(col("cls").as("source"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double") /
            col("n_exact") <= 0.05).as("within_bound"))
    }),

    // Top-5 TF-IDF keywords per document (WindowGroupLimit rank)
    "text_tfidf" -> ((s, dir) =>
      graft.ops.TextOps.tfidfTopTerms(Tables.docs(s, dir), col("text"),
        col("doc_id"), k = 5)),

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
    })
  )

  /** Fixed PQ codebooks: per subspace, the vec_id < 4 slices (code_id =
    * vec_id) — deterministic, so DuckDB replays the encoding exactly. */
  private[queries] def pqCodebooks(s: SparkSession, dir: String): DataFrame =
    Tables.emb(s, dir).where(col("vec_id") < 4)
      .select(col("vec_id").as("code_id"), col("embedding").as("e"))
      .select(explode(sequence(lit(0), lit(3))).as("sub"), col("code_id"),
        col("e"))
      .select(col("sub"), col("code_id"),
        slice(col("e"), col("sub") * 16 + 1, lit(16)).as("cv"))

  def oracles: Map[String, String] = Map(

    // counts mirror the redaction CASCADE: phones counted on the
    // email-redacted text, IPs on the email+phone-redacted text — one
    // substring never double-counts across categories
    "text_pii_scan" ->
      s"""WITH $PiiAugSql,
         |r1 AS (
         |  SELECT doc_id, ptext,
         |    regexp_replace(ptext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
         |  FROM aug),
         |r2 AS (
         |  SELECT doc_id, ptext, t1,
         |    regexp_replace(t1, '\\+\\d{1,2}[ .-]?\\(?\\d{3}\\)?[ .-]\\d{3}[ .-]\\d{4}', '<PHONE>', 'g') AS t2
         |  FROM r1)
         |SELECT doc_id,
         |  len(regexp_extract_all(ptext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(t2, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b'))::BIGINT AS n_ipv4,
         |  len(regexp_extract_all(t1, '\\+\\d{1,2}[ .-]?\\(?\\d{3}\\)?[ .-]\\d{3}[ .-]\\d{4}'))::BIGINT AS n_phones,
         |  (len(regexp_extract_all(ptext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         |   + len(regexp_extract_all(t2, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b'))
         |   + len(regexp_extract_all(t1, '\\+\\d{1,2}[ .-]?\\(?\\d{3}\\)?[ .-]\\d{3}[ .-]\\d{4}'))) > 0 AS has_pii
         |FROM r2""".stripMargin,

    "text_pii_redact" ->
      s"""WITH $PiiAugSql
         |SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(ptext,
         |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      '\\+\\d{1,2}[ .-]?\\(?\\d{3}\\)?[ .-]\\d{3}[ .-]\\d{4}', '<PHONE>', 'g'),
         |    '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS clean_text
         |FROM aug""".stripMargin,

    // alpha = 1 (ln 1 = 0): score = lp - mm*ln(n + V) + sum m*ln(c+1)
    "ml_nb_classify" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT source AS lbl, tok, count(*)::DOUBLE AS c FROM tok GROUP BY 1, 2),
        |ntot AS (SELECT lbl, sum(c) AS n FROM cnt GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok)::DOUBLE AS vs FROM tok),
        |pri AS (
        |  SELECT source AS lbl,
        |    ln(count(*)::DOUBLE / (SELECT count(*)::DOUBLE FROM documents)) AS lp
        |  FROM documents GROUP BY 1),
        |dt AS (SELECT doc_id, tok, count(*)::DOUBLE AS m FROM tok GROUP BY 1, 2),
        |mdoc AS (SELECT doc_id, sum(m) AS mm FROM dt GROUP BY 1),
        |adj AS (
        |  SELECT dt.doc_id, cnt.lbl, sum(dt.m * ln(cnt.c + 1.0)) AS adj
        |  FROM dt JOIN cnt ON cnt.tok = dt.tok GROUP BY 1, 2),
        |sc AS (
        |  SELECT md.doc_id, p.lbl,
        |    round(p.lp - md.mm * ln(nt.n + v.vs) + coalesce(adj.adj, 0), 6) AS score
        |  FROM mdoc md
        |  CROSS JOIN pri p
        |  JOIN ntot nt ON nt.lbl = p.lbl
        |  CROSS JOIN v
        |  LEFT JOIN adj ON adj.doc_id = md.doc_id AND adj.lbl = p.lbl),
        |r AS (
        |  SELECT doc_id, lbl, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lbl) AS rn
        |  FROM sc)
        |SELECT doc_id, lbl AS pred_label, score FROM r WHERE rn = 1""".stripMargin,

    "text_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents),
        |tot AS (SELECT count(*)::DOUBLE AS n FROM tok)
        |SELECT tok, count(*)::BIGINT AS cnt
        |FROM tok GROUP BY tok
        |HAVING count(*) >= (SELECT ceil(0.03 * n) FROM tot)""".stripMargin,

    "p3_stratified" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ${graft.core.Rng.Md5.uniformSql(7L, "strat", Seq("doc_id"))} <
         |  CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
         |              WHEN 'src2' THEN 0.25 ELSE 0.1 END""".stripMargin,

    "o3_temperature" ->
      s"""WITH c AS (
         |  SELECT source AS cls, count(*)::DOUBLE AS n FROM documents GROUP BY 1),
         |mn AS (SELECT min(n) AS nmin FROM c),
         |f AS (
         |  SELECT cls, round(least(1.0, pow(n / nmin, -0.5)), 6) AS fr
         |  FROM c CROSS JOIN mn)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN f ON f.cls = d.source
         |WHERE ${graft.core.Rng.Md5.uniformSql(11L, "temp", Seq("d.doc_id"))} < f.fr""".stripMargin,

    "p3_quota" ->
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${graft.core.Rng.Md5.sortKeySql(13L, "quota", Seq("doc_id"))}, doc_id) AS rn
         |  FROM documents)
         |SELECT doc_id, source FROM r WHERE rn <= 8""".stripMargin,

    // chunkTokens = 16, overlap = 4, stride = 12
    "text_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    greatest(1, ceil((n - 4) / 12.0)::BIGINT) AS nc
        |  FROM n),
        |e AS (
        |  SELECT doc_id, toks, n,
        |    unnest(generate_series(0, nc - 1)) AS chunk_id
        |  FROM c)
        |SELECT doc_id, chunk_id::BIGINT AS chunk_id,
        |  least(16, n - chunk_id * 12)::BIGINT AS n_chunk_tokens,
        |  array_to_string(toks[chunk_id * 12 + 1 : chunk_id * 12 + 16], ' ') AS chunk_text
        |FROM e""".stripMargin,

    "dd_incremental_exact" ->
      """WITH idx AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
        |shard AS (
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id < 100
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1)
        |SELECT s.doc_id FROM shard s
        |WHERE md5(s.text) NOT IN (SELECT h FROM idx)""".stripMargin,

    "text_approx_distinct" ->
      """WITH tok AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents)
        |SELECT source, count(DISTINCT tok)::BIGINT AS n_exact,
        |  true AS within_bound
        |FROM tok GROUP BY source""".stripMargin,

    "text_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |dfq AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id, tf.tok, round(tf.tf * ln(n.n / dfq.df), 6) AS tfidf
        |  FROM tf JOIN dfq USING (tok) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, tok, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
        |  FROM sc)
        |SELECT doc_id, tok AS term, tfidf, rn::BIGINT AS rank
        |FROM r WHERE rn <= 5""".stripMargin,

    "sim_pq_codes" ->
      s"""WITH $PqEncSql
         |SELECT vec_id, sub, arg_min(code_id, (round(d * 1000000))::BIGINT * 10 + code_id) AS code,
         |  min(d) AS d
         |FROM enc GROUP BY vec_id, sub""".stripMargin,

    "sim_pq_topk" ->
      s"""WITH $PqEncSql,
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
         |  FROM codes cd JOIN lutq l ON l.sub = cd.sub AND l.code_id = cd.code
         |  WHERE cd.vec_id <> l.query_id
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT query_id, vec_id, adist,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) - 1 AS rank
         |  FROM ap)
         |SELECT query_id, vec_id AS neighbor_id, adist, rank::BIGINT AS rank
         |FROM rk WHERE rank < 5""".stripMargin
  )

  /** PQ encoding CTE prefix: subspace codebooks (vec_id < 4 slices) and
    * per-(vector, subspace, code) squared distances — ‖a‖² + ‖b‖² − 2·a·b
    * with the same sequential folds as the Spark kernels. */
  private[queries] val PqEncSql =
    """subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
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
      |  FROM embeddings e CROSS JOIN cb c)""".stripMargin
}
