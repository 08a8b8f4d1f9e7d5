package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SparseToDense
import graft.ops._
import graft.streaming.StreamingOps

/** Oracle-checked queries for the training-data-pipeline extensions:
  * deduplication, similarity search, text analysis, multimodal plumbing,
  * and streaming analytics (SURVEY §2.7 north-star set).
  */
object ExtQueries {

  import Tables.{docs, emb, events}

  /** Shared oracle CTEs: tokens + word-3-shingle postings over documents. */
  private[queries] val PostingsCte =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
      |  FROM documents
      |),
      |shg AS (
      |  SELECT doc_id,
      |         CASE WHEN len(t) >= 3
      |              THEN list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))
      |              ELSE [array_to_string(t, ' ')] END AS shs
      |  FROM toks
      |),
      |p1 AS (SELECT doc_id, unnest(shs) AS s FROM shg),
      |post0 AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS sh FROM p1),
      |rare AS (SELECT sh FROM post0 GROUP BY sh HAVING count(*) <= 100),
      |post AS (SELECT post0.* FROM post0 JOIN rare USING (sh))""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // U6: custom codegen Expression — sparse (index,value) rows → dense,
    // flattened for comparison
    "u6_sparse_to_dense" -> ((s, dir) => {
      val sparse = s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(
          struct(col("l_linenumber"), col("l_quantity")))).as("sl"))
        .select(col("l_orderkey"),
          transform(col("sl"), x => x("l_linenumber").cast("long")).as("genes"),
          transform(col("sl"), x => x("l_quantity")).as("exprs"))
      sparse.select(col("l_orderkey"),
          posexplode(SparseToDense.sparseToDense(col("genes"), col("exprs"), 7)))
        .select(col("l_orderkey"), col("pos").cast("long").as("pos"),
          col("col").as("val"))
    }),

    // Dedup: exact hash groups
    "dd_exact" -> ((s, dir) =>
      DedupOps.exactGroups(docs(s, dir), col("text"), col("doc_id"))),

    // Dedup: n-gram Jaccard near-dup pairs (threshold calibrated to the
    // planted near-dups: clean separation at 0.5)
    "dd_jaccard_pairs" -> ((s, dir) =>
      DedupOps.jaccardFromStats(Tables.ngramPairStats(s, dir),
        minJaccard = 0.5)),

    // Dedup: MinHash LSH band buckets
    "dd_minhash_bands" -> ((s, dir) =>
      DedupOps.minhashBands(docs(s, dir), col("text"), col("doc_id"),
        k = 3, numHashes = 16, bands = 4)),

    // Dedup: MinHash LSH candidate pairs (served from the shared landed
    // layout — bit-identical pair set, see Tables.minhashCands)
    "dd_minhash_pairs" -> ((s, dir) => Tables.minhashCands(s, dir)),

    // Dedup: 16-bit SimHash signatures
    "dd_simhash" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        DedupOps.simhash60(col("text")).as("simhash"))),

    // Dedup: embedding-cosine near-dup pairs
    "dd_embed_pairs" -> ((s, dir) =>
      DedupOps.embeddingPairs(emb(s, dir), col("embedding"), col("vec_id"),
        minCosine = 0.4)),

    // Dedup: embedding-cosine near-dups restricted to LSH buckets (the
    // 100 TB path as one operator)
    "dd_embed_lsh" -> ((s, dir) =>
      DedupOps.embeddingPairsBucketed(emb(s, dir), col("embedding"),
        col("vec_id"), minCosine = 0.4, dims = 64, planes = 8, seed = 42L)),

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

    // Text: token counts (whitespace + BPE-ish lexer)
    "text_tokens" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_ws_tokens"),
        TextOps.bpeishCount(col("text")).cast("long").as("n_bpeish"))),

    // Text: quality features + composite score
    "text_quality" -> ((s, dir) =>
      TextOps.qualityFeatures(docs(s, dir), col("text"), col("doc_id"))),

    // Text: heuristic language ID
    "text_langid" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("lang_pred"))),

    // Text: min-shingle-hash document fingerprint
    "text_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fingerprint"))),

    // Multimodal: binary payload metadata (byte length + header sniff)
    "mm_metadata" -> ((s, dir) =>
      MultimodalOps.metadata(
        MultimodalOps.withPayload(docs(s, dir), col("text")),
        col("payload"), col("doc_id"))),

    // Multimodal: frame sampling by byte windows
    "mm_frames" -> ((s, dir) =>
      MultimodalOps.frameSample(docs(s, dir), col("text"), col("doc_id"),
        n = 4, width = 32)),

    // Streaming: tumbling 1-hour windows per event type
    "stream_tumbling" -> ((s, dir) =>
      StreamingOps.tumblingCounts(events(s, dir), "1 hour")),

    // Streaming: 30-minute-gap sessionization
    "stream_sessions" -> ((s, dir) =>
      StreamingOps.sessionize(events(s, dir), gapMs = 1800000L))
  )

  def oracles: Map[String, String] = Map(
    "u6_sparse_to_dense" ->
      """WITH pos AS (SELECT unnest(generate_series(0, 6)) AS pos),
        |o AS (SELECT DISTINCT l_orderkey FROM lineitem),
        |lv AS (
        |  SELECT l_orderkey, l_linenumber, max(l_quantity) AS q
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT o.l_orderkey, p.pos, coalesce(l.q, 0.0) AS val
        |FROM o CROSS JOIN pos p
        |LEFT JOIN lv l
        |  ON l.l_orderkey = o.l_orderkey AND l.l_linenumber = p.pos + 1""".stripMargin,

    "dd_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
        |       count(*) AS dup_cnt
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "dd_jaccard_pairs" ->
      s"""$PostingsCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM post GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |  FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |j AS (
         |  SELECT doc_a, doc_b, common, sa.sz AS size_a, sb.sz AS size_b,
         |         round(common::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE, 6) AS jaccard
         |  FROM pairs
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |)
         |SELECT * FROM j WHERE jaccard >= 0.5""".stripMargin,

    "dd_embed_lsh" ->
      """WITH b AS (
        |  SELECT vec_id, embedding,
        |    list_reduce(list_transform(generate_series(0, 7), j ->
        |      CASE WHEN
        |        list_reduce(list_transform(generate_series(0, 63), i ->
        |          embedding[i + 1]::DOUBLE *
        |          (CASE WHEN (('0x' || substr(md5(concat_ws(':', 'plane', '42', j::VARCHAR, i::VARCHAR)), 1, 8))::BIGINT
        |                      / CAST(4294967296.0 AS DOUBLE)) >= 0.5
        |                THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)),
        |          (a, b) -> a + b) > 0.0
        |      THEN (1 << j) ELSE 0 END), (a, b) -> a + b) AS bucket
        |  FROM embeddings
        |),
        |s AS (
        |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
        |    round(
        |      list_reduce(list_transform(list_zip(x.embedding, y.embedding),
        |        z -> z[1]::DOUBLE * z[2]::DOUBLE), (a, b) -> a + b) /
        |      (sqrt(list_reduce(list_transform(x.embedding, e -> e::DOUBLE * e::DOUBLE), (a, b) -> a + b)) *
        |       sqrt(list_reduce(list_transform(y.embedding, e -> e::DOUBLE * e::DOUBLE), (a, b) -> a + b))),
        |      6) AS cos
        |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        |)
        |SELECT vec_a, vec_b, cos FROM s WHERE cos >= 0.4""".stripMargin,

    "dd_minhash_bands" ->
      """WITH toks AS (
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
        |b AS (SELECT doc_id, sg, unnest(generate_series(0, 3)) AS band FROM sig)
        |SELECT doc_id, band,
        |       md5(array_to_string(sg[band * 4 + 1 : band * 4 + 4], ',')) AS band_key
        |FROM b""".stripMargin,

    "dd_minhash_pairs" ->
      """WITH toks AS (
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
        |)
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |FROM bk x JOIN bk y
        |  ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id""".stripMargin,

    "dd_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
        |  FROM documents
        |),
        |shg AS (
        |  SELECT doc_id,
        |         CASE WHEN len(t) >= 3
        |              THEN list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))
        |              ELSE [array_to_string(t, ' ')] END AS shs
        |  FROM toks
        |),
        |h AS (
        |  SELECT doc_id,
        |         list_transform(shs, tk -> ('0x' || substr(md5(tk), 1, 15))::BIGINT) AS hs
        |  FROM shg
        |)
        |SELECT doc_id,
        |       CAST(list_reduce(list_transform(generate_series(0, 59), i ->
        |         CASE WHEN list_reduce(list_transform(hs, hv ->
        |                CASE WHEN ((hv >> i) & 1) = 1 THEN 1 ELSE -1 END), (a, b) -> a + b) > 0
        |              THEN (1::BIGINT << i) ELSE 0::BIGINT END), (a, b) -> a + b) AS BIGINT) AS simhash
        |FROM h""".stripMargin,

    "dd_embed_pairs" ->
      """WITH p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    round(
        |      list_reduce(list_transform(list_zip(a.embedding, b.embedding),
        |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
        |      (sqrt(list_reduce(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
        |       sqrt(list_reduce(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
        |      6) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |)
        |SELECT * FROM p WHERE cos >= 0.4""".stripMargin,

    "sim_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(
        |      list_reduce(list_transform(list_zip(q.qv, e.embedding),
        |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
        |      (sqrt(list_reduce(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
        |       sqrt(list_reduce(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
        |      6) AS cos
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) - 1 AS rank
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank < 10""".stripMargin,

    "sim_lsh_buckets" ->
      """SELECT vec_id,
        |  list_reduce(list_transform(generate_series(0, 7), j ->
        |    CASE WHEN
        |      list_reduce(list_transform(generate_series(0, 63), i ->
        |        embedding[i + 1]::DOUBLE *
        |        (CASE WHEN (('0x' || substr(md5(concat_ws(':', 'plane', '42', j::VARCHAR, i::VARCHAR)), 1, 8))::BIGINT
        |                    / CAST(4294967296.0 AS DOUBLE)) >= 0.5
        |              THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)),
        |        (a, b) -> a + b) > 0.0
        |    THEN (1 << j) ELSE 0 END), (a, b) -> a + b) AS bucket
        |FROM embeddings""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS n_ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpeish
        |FROM documents""".stripMargin,

    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |f AS (
        |  SELECT doc_id,
        |    len(toks) AS n_tokens,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_cnt,
        |    list_reduce(list_prepend(0, list_transform(toks, x -> length(x))), (a, b) -> a + b) AS char_sum,
        |    len(list_filter(toks, x -> x IN ('the','a','an','and','of','to','in','is','for','on'))) AS stop_hits
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, punct_cnt,
        |  round(char_sum::DOUBLE / greatest(n_tokens, 1)::DOUBLE, 6) AS avg_token_len,
        |  round(stop_hits::DOUBLE / greatest(n_tokens, 1)::DOUBLE, 6) AS stop_ratio,
        |  CASE WHEN n_tokens IS NULL THEN NULL ELSE round(
        |    0.4 * least(CAST(1.0 AS DOUBLE), n_tokens::DOUBLE / 200.0) +
        |    0.3 * (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_cnt::DOUBLE / greatest(n_tokens, 1)::DOUBLE)) +
        |    0.3 * least(CAST(1.0 AS DOUBLE), (stop_hits::DOUBLE / greatest(n_tokens, 1)::DOUBLE) * 5.0),
        |    6) END AS quality
        |FROM f""".stripMargin,

    "text_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('el','los','las','una','que','por'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','les','des','est','dans','pour'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('the','and','of','is','to','in'))) AS s_en
        |  FROM t
        |)
        |SELECT doc_id, lang,
        |  CASE WHEN s_de IS NULL THEN NULL
        |       WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
        |       WHEN s_es > s_en AND s_es > s_fr THEN 'es'
        |       WHEN s_fr > s_en THEN 'fr'
        |       ELSE 'en' END AS lang_pred
        |FROM sc""".stripMargin,

    "text_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |shg AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) >= 5
        |              THEN list_transform(generate_series(1, len(toks) - 4), i -> array_to_string(toks[i:i+4], ' '))
        |              ELSE [array_to_string(toks, ' ')] END AS shs
        |  FROM t
        |)
        |SELECT doc_id, list_min(list_transform(shs, x -> md5(x))) AS fingerprint
        |FROM shg""".stripMargin,

    "mm_metadata" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
        |       hex(encode(substr(text, 1, 8))) AS header_hex
        |FROM documents""".stripMargin,

    "mm_frames" ->
      """WITH fr AS (SELECT unnest(generate_series(0, 3)) AS frame)
        |SELECT doc_id, frame,
        |       md5(substr(text, frame * 32 + 1, 32)) AS frame_hash
        |FROM documents CROSS JOIN fr""".stripMargin,

    "stream_tumbling" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |         / 1000000.0 AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin,

    "stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms FROM events
        |),
        |s AS (
        |  SELECT *, CASE
        |    WHEN lag(ts_ms) OVER w IS NULL THEN 1
        |    WHEN ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1
        |    ELSE 0 END AS is_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |),
        |sid AS (
        |  SELECT *, CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
        |  FROM s
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
        |       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |         / 1000000.0 AS value_sum
        |FROM sid GROUP BY user_id, session_id""".stripMargin
  )
}
