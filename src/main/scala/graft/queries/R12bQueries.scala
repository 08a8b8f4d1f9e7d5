package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, EmbedOps, EventOps, LayoutOps, SplitOps, TextOps}

/** Round-12b queries: the event-relational tier ([[graft.ops.EventOps]]:
  * as-of join, funnel attribution, bounded range join), CCNet text
  * normalization, the lexical-diversity card, the Zipf-fit corpus
  * diagnostic, and embedding-space benchmark decontamination.
  */
object R12bQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // As-of join: every click annotated with the user's latest purchase
    // at-or-before it — one key shuffle, running last() over the
    // interleaved timeline, no inequality join
    "ev_asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventOps.asofJoin(
        e.where(col("event_type") === "click"), col("event_id"),
        col("user_id"), col("ts"),
        e.where(col("event_type") === "purchase"), col("event_id"),
        col("user_id"), col("ts"), col("value"))
    }),

    // Ordered funnel: furthest signup → view → purchase stage per user
    // (strictly time-ordered, fold over the sorted per-user sequence)
    "ev_funnel" -> ((s, dir) =>
      EventOps.funnelStages(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_id"), col("event_type"),
        Seq("signup", "view", "purchase"))),

    // Bounded range join: every error within 1 h at-or-after a click by
    // the same user — time-bucketed equi-join, not a nested loop
    "ev_range_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventOps.rangeJoinPairs(
        e.where(col("event_type") === "click"), col("event_id"),
        col("user_id"), col("ts"),
        e.where(col("event_type") === "error"), col("event_id"),
        col("user_id"), col("ts"), windowMs = 3600000L)
    }),

    // CCNet normalization: the canonical text form hashed for dedup
    "text_normalize" -> ((s, dir) =>
      Tables.docs(s, dir).select(col("doc_id"),
        TextOps.normalizeText(col("text")).as("norm_text"))),

    // Per-doc lexical diversity: types, hapaxes, TTR — template spam has
    // collapsed TTR; the fold never shuffles the token multiset
    "text_lexdiv" -> ((s, dir) =>
      TextOps.lexicalDiversity(Tables.docs(s, dir), col("text"),
        col("doc_id"))),

    // Zipf fit over the top-1000 vocabulary: corpus-health slope/intercept
    "text_zipf" -> ((s, dir) =>
      TextOps.zipfFit(Tables.docs(s, dir), col("text"), k = 1000)),

    // Embedding-space decontamination: max cosine of every corpus vector
    // against the 16-vector probe "benchmark", flag at 0.35
    "emb_semantic_contam" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      EmbedOps.semanticContam(e, col("embedding"), col("vec_id"),
        e.where(col("vec_id") < 16), col("embedding"), col("vec_id"),
        minCosine = 0.35)
    }),

    // Flagship curation pipeline, end to end in ONE plan: quality gate →
    // exact dedup (first occurrence wins) → hash split → train shards.
    // Every stage is an already-oracled operator; the composition is the
    // production shape — gate prunes before dedup hashes, dedup prunes
    // before the split, only train pays the shard window.
    "pipeline_curate" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val gated = TextOps.filterPipeline(d, col("text"), col("doc_id"),
        minTokens = 20L, maxTokens = 1000L, minQuality = 0.5,
        langs = Seq("en", "de", "es", "fr"))
      val gatedDocs = d.join(gated.select("doc_id"), "doc_id")
      val kept = DedupOps.exactDedup(gatedDocs, col("text"), col("doc_id"))
      val split = SplitOps.withSplit(kept.select("doc_id"), col("doc_id"),
        seed = 42L, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val shards = SplitOps.exportShards(
        split.where(col("split") === "train").select("doc_id"),
        col("doc_id"), seed = 5L, nShards = 4)
      split.join(shards.select(col("doc_id"), col("shard"), col("pos")),
        Seq("doc_id"), "left")
    }),

    // Gopher word-n-gram repetition fractions (top 2/3/4-gram char mass,
    // duplicated 5/10-gram char mass) — per-row folds, no gram shuffle
    "text_rep_ngrams" -> ((s, dir) =>
      TextOps.ngramRepetition(Tables.docs(s, dir), col("text"),
        col("doc_id"))),

    // Hierarchical corpus census: doc/char totals at (source, lang),
    // per-source subtotal, and grand total in ONE pass — Spark's rollup
    // plans a single Expand+aggregate, not three scans
    "a1_rollup" -> ((s, dir) =>
      Tables.docs(s, dir).rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))),

    // Per-source doc-length quantiles: one-pass sketch cross-checked
    // against the exact rank quantile (invariant oracle: exact + true)
    "text_len_quantiles" -> ((s, dir) =>
      TextOps.lengthQuantiles(Tables.docs(s, dir), col("source"),
        col("n_chars"))),

    // Asymmetric containment pairs: |A∩B|/min(|A|,|B|) on the capped
    // shingle postings — catches a short doc quoted inside a long one
    "dd_containment_pairs" -> ((s, dir) =>
      DedupOps.containmentFromStats(Tables.ngramPairStats(s, dir),
        minContainment = 0.5)),

    // Content-defined chunk dedup report: cut after every token 3-gram
    // with md5 bucket ≡ 0 (mod 8); duplicated chunk-mass fraction per doc
    "dd_cdc_chunks" -> ((s, dir) =>
      DedupOps.cdcDedupReport(Tables.docs(s, dir), col("text"),
        col("doc_id"), k = 3, m = 8)),

    // Co-located fact-fact join: lineitem ⋈ orders, both bucketed+sorted
    // on the order key — the join itself plans with NO exchange; the only
    // shuffle is the final 3-group aggregate
    "tpch_bucketed_join" -> ((s, dir) => {
      val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = R9Queries.runTmp + "/bucketed_" + safe
      // the bucketed layout is the amortized cost (written once, joined
      // forever) — build it once per JVM and report the build separately,
      // same discipline as the persisted ANN/dedup indexes
      IndexBuilds.once(s"tpch_bucketed_join:$dir") {
        LayoutOps.writeBucketed(s.read.parquet(s"$dir/lineitem.parquet"),
          "l_orderkey", 8, s"graft_li_$safe", s"$tmp/li")
        LayoutOps.writeBucketed(s.read.parquet(s"$dir/orders.parquet")
            .withColumnRenamed("o_orderkey", "l_orderkey"),
          "l_orderkey", 8, s"graft_ord_$safe", s"$tmp/ord")
      }
      LayoutOps.bucketedJoin(s, s"graft_li_$safe", s"graft_ord_$safe",
          "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(countDistinct("l_orderkey").as("n_orders"),
          count(lit(1)).as("n_lines"),
          (sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100).cast("long")).cast("double") / 100.0).as("revenue"))
    })
  )

  /** Per-n CTE fragment for the repetition oracle: n-grams, counts with
    * token-char length, the deterministic top-1 mass, and the duplicated
    * mass. */
  private def repCte(n: Int): String = {
    val m = n - 1
    s"""g$n AS (
       |  SELECT doc_id, array_to_string(list_slice(t, i, i + $m), ' ') AS gram
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - $m)) AS i
       |        FROM toks WHERE len(t) >= $n)
       |),
       |c$n AS (
       |  SELECT doc_id, gram, count(*)::BIGINT AS c,
       |    (length(gram) - $m)::BIGINT AS gl
       |  FROM g$n GROUP BY doc_id, gram
       |),
       |top$n AS (
       |  SELECT doc_id, c * gl AS mass FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY c DESC, gl DESC, gram) AS rn FROM c$n) WHERE rn = 1
       |),
       |dup$n AS (
       |  SELECT doc_id, sum(c * gl)::BIGINT AS mass FROM c$n
       |  WHERE c >= 2 GROUP BY doc_id
       |)""".stripMargin
  }

  /** 6-dp rounded cosine mirror — same fold as R12Queries.cosSql. */
  private def cosSql(a: String, b: String): String =
    s"""round(
       |      list_reduce(list_transform(list_zip($a, $b),
       |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
       |      (sqrt(list_reduce(list_transform($a, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
       |       sqrt(list_reduce(list_transform($b, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
       |      6)""".stripMargin

  /** Tokenizer mirror shared with every text oracle. */
  private def toksSql(x: String): String =
    s"""list_filter(string_split_regex(lower($x), '\\s+'), t -> t <> '')"""

  def oracles: Map[String, String] = Map(

    // deterministic explicit form of ASOF LEFT JOIN: latest right ts,
    // greatest right id on ties — the operator's documented tie-break
    "ev_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT l.event_id AS lid, r.event_id AS rid, r.value AS rv,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.ts DESC, r.event_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |)
        |SELECT l.event_id AS left_id, l.user_id AS k, l.ts,
        |  j.rid AS matched_id, j.rv AS matched_value
        |FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.lid = l.event_id""".stripMargin,

    // the same stage automaton as a string-state list_reduce over the
    // (ts, event_id)-ordered per-user sequence
    "ev_funnel" ->
      """WITH s AS (
        |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id
        |)
        |SELECT user_id, CAST(list_reduce(list_prepend('0', seq), (acc, x) ->
        |  CASE WHEN acc = '0' AND x = 'signup' THEN '1'
        |       WHEN acc = '1' AND x = 'view' THEN '2'
        |       WHEN acc = '2' AND x = 'purchase' THEN '3'
        |       ELSE acc END) AS INTEGER) AS stage
        |FROM s""".stripMargin,

    // plain inequality join on exact millisecond epochs — the ground
    // truth the bucketed equi-join must reproduce
    "ev_range_join" ->
      """WITH a AS (SELECT event_id, user_id, epoch_us(ts) // 1000 AS ms
        |  FROM events WHERE event_type = 'click'),
        |b AS (SELECT event_id, user_id, epoch_us(ts) // 1000 AS ms
        |  FROM events WHERE event_type = 'error')
        |SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id AS k,
        |  b.ms - a.ms AS gap_ms
        |FROM a JOIN b ON a.user_id = b.user_id
        |WHERE b.ms >= a.ms AND b.ms - a.ms <= 3600000
        |  AND a.event_id <> b.event_id""".stripMargin,

    "text_normalize" ->
      """SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(
        |  translate(lower(coalesce(text, '')),
        |    'áàâäãåçéèêëíìîïñóòôöõúùûüýÿ', 'aaaaaaceeeeiiiinooooouuuuyy'),
        |  '[0-9]', '0', 'g'), '[^a-z0 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin,

    "text_lexdiv" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(${toksSql("coalesce(text, '')")}) AS tok
         |  FROM documents
         |),
         |c AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
         |a AS (
         |  SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
         |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
         |  FROM c GROUP BY 1
         |)
         |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
         |  coalesce(a.n_types, 0) AS n_types, coalesce(a.n_hapax, 0) AS n_hapax,
         |  CASE WHEN coalesce(a.n_tokens, 0) > 0
         |    THEN round(a.n_types::DOUBLE / a.n_tokens, 6) END AS ttr,
         |  CASE WHEN coalesce(a.n_types, 0) > 0
         |    THEN round(a.n_hapax::DOUBLE / a.n_types, 6) END AS hapax_frac
         |FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id""".stripMargin,

    // identical milli-unit integerization + integer regression sums, so
    // the closed-form slope/intercept are bit-equal
    "text_zipf" ->
      s"""WITH t AS (SELECT unnest(${toksSql("text")}) AS tok FROM documents),
         |vc AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
         |tops AS (
         |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) - 1 AS rank
         |  FROM vc ORDER BY cnt DESC, tok LIMIT 1000
         |),
         |xy AS (
         |  SELECT CAST(floor(ln(rank + 1.0) * 1000) AS BIGINT) AS x6,
         |         CAST(floor(ln(cnt::DOUBLE) * 1000) AS BIGINT) AS y6
         |  FROM tops
         |),
         |s AS (
         |  SELECT count(*)::BIGINT AS n, sum(x6)::BIGINT AS sx,
         |    sum(y6)::BIGINT AS sy, sum(x6 * y6)::BIGINT AS sxy,
         |    sum(x6 * x6)::BIGINT AS sxx
         |  FROM xy
         |)
         |SELECT n AS n_terms,
         |  round((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE, 6) AS slope,
         |  round((sy::DOUBLE / 1000 -
         |    ((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE) *
         |    sx::DOUBLE / 1000) / n::DOUBLE, 6) AS intercept
         |FROM s""".stripMargin,

    "text_rep_ngrams" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${toksSql("coalesce(text, '')")} AS t FROM documents
         |),
         |tot AS (
         |  SELECT doc_id,
         |    coalesce(list_sum(list_transform(t, x -> length(x))), 0)::BIGINT AS n
         |  FROM toks
         |),
         |${repCte(2)},
         |${repCte(3)},
         |${repCte(4)},
         |${repCte(5)},
         |${repCte(10)}
         |SELECT tot.doc_id, tot.n AS n_token_chars,
         |  CASE WHEN tot.n > 0 THEN round(coalesce(top2.mass, 0)::DOUBLE / tot.n, 6) END AS top2_frac,
         |  CASE WHEN tot.n > 0 THEN round(coalesce(top3.mass, 0)::DOUBLE / tot.n, 6) END AS top3_frac,
         |  CASE WHEN tot.n > 0 THEN round(coalesce(top4.mass, 0)::DOUBLE / tot.n, 6) END AS top4_frac,
         |  CASE WHEN tot.n > 0 THEN round(coalesce(dup5.mass, 0)::DOUBLE / tot.n, 6) END AS dup5_frac,
         |  CASE WHEN tot.n > 0 THEN round(coalesce(dup10.mass, 0)::DOUBLE / tot.n, 6) END AS dup10_frac
         |FROM tot
         |LEFT JOIN top2 ON tot.doc_id = top2.doc_id
         |LEFT JOIN top3 ON tot.doc_id = top3.doc_id
         |LEFT JOIN top4 ON tot.doc_id = top4.doc_id
         |LEFT JOIN dup5 ON tot.doc_id = dup5.doc_id
         |LEFT JOIN dup10 ON tot.doc_id = dup10.doc_id""".stripMargin,

    // the four stage oracles chained as CTEs: the filter_pipeline gate,
    // min-id-per-digest dedup, the md5-uniform split, the shard window
    "pipeline_curate" -> {
      val u = graft.core.Rng.Md5.uniformSql(42L, "split", Seq("doc_id"))
      val sk = graft.core.Rng.Md5.sortKeySql(5L, "shard", Seq("doc_id"))
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
         |  FROM documents
         |),
         |f AS (
         |  SELECT doc_id,
         |    len(toks) AS n_tokens,
         |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_cnt,
         |    len(list_filter(toks, x -> x IN ('the','a','an','and','of','to','in','is','for','on'))) AS stop_hits,
         |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS s_de,
         |    len(list_filter(toks, x -> x IN ('el','los','las','una','que','por'))) AS s_es,
         |    len(list_filter(toks, x -> x IN ('le','les','des','est','dans','pour'))) AS s_fr,
         |    len(list_filter(toks, x -> x IN ('the','and','of','is','to','in'))) AS s_en
         |  FROM t
         |),
         |q AS (
         |  SELECT doc_id,
         |    CASE WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
         |         WHEN s_es > s_en AND s_es > s_fr THEN 'es'
         |         WHEN s_fr > s_en THEN 'fr'
         |         ELSE 'en' END AS lang_pred,
         |    n_tokens,
         |    round(
         |      0.4 * least(CAST(1.0 AS DOUBLE), n_tokens::DOUBLE / 200.0) +
         |      0.3 * (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_cnt::DOUBLE / greatest(n_tokens, 1)::DOUBLE)) +
         |      0.3 * least(CAST(1.0 AS DOUBLE), (stop_hits::DOUBLE / greatest(n_tokens, 1)::DOUBLE) * 5.0),
         |      6) AS quality
         |  FROM f
         |),
         |g AS (
         |  SELECT doc_id FROM q
         |  WHERE n_tokens >= 20 AND n_tokens <= 1000 AND quality >= 0.5
         |    AND lang_pred IN ('en', 'de', 'es', 'fr')
         |),
         |gd AS (SELECT d.doc_id, d.text FROM documents d JOIN g ON d.doc_id = g.doc_id),
         |kept AS (
         |  SELECT doc_id FROM gd
         |  WHERE doc_id IN (SELECT min(doc_id) FROM gd GROUP BY md5(text))
         |),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN u < 0.8 THEN 'train'
         |         WHEN u < 0.9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, $u AS u FROM kept)
         |),
         |tr AS (SELECT doc_id, $sk AS sk FROM sp WHERE split = 'train'),
         |sh AS (
         |  SELECT doc_id,
         |    ('0x' || substr(sk, 1, 8))::BIGINT % 4 AS shard, sk
         |  FROM tr
         |),
         |shp AS (
         |  SELECT doc_id, shard,
         |    row_number() OVER (PARTITION BY shard ORDER BY sk, doc_id) - 1 AS pos
         |  FROM sh
         |)
         |SELECT sp.doc_id, sp.split, shp.shard, shp.pos
         |FROM sp LEFT JOIN shp ON sp.doc_id = shp.doc_id""".stripMargin
    },

    "a1_rollup" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin,

    "text_len_quantiles" ->
      """WITH r AS (
        |  SELECT source AS cls, n_chars AS v,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents
        |)
        |SELECT cls, max(n)::BIGINT AS n,
        |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS INTEGER) THEN v END)::BIGINT AS p50_exact,
        |  max(CASE WHEN rn = CAST(ceil(0.9 * n) AS INTEGER) THEN v END)::BIGINT AS p90_exact,
        |  true AS within_bound
        |FROM r GROUP BY cls""".stripMargin,

    "dd_containment_pairs" ->
      s"""${ExtQueries.PostingsCte},
         |sizes AS (SELECT doc_id, count(*) AS sz FROM post GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |  FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |c AS (
         |  SELECT doc_a, doc_b, common, sa.sz AS size_a, sb.sz AS size_b,
         |    round(common::DOUBLE / least(sa.sz, sb.sz)::DOUBLE, 6) AS containment
         |  FROM pairs
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |)
         |SELECT * FROM c WHERE containment >= 0.5""".stripMargin,

    // same cut rule in list form: 1-based gram start j cuts after token
    // j + k - 1; bounds [0] ∪ cuts ∪ [n]; 60-bit md5 chunk keys
    "dd_cdc_chunks" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${toksSql("text")} AS t FROM documents
         |  WHERE len(${toksSql("text")}) > 0
         |),
         |cu AS (
         |  SELECT doc_id, t, len(t) AS n,
         |    list_transform(
         |      list_filter(generate_series(1, len(t) - 2), i ->
         |        ('0x' || substr(md5(array_to_string(list_slice(t, i, i + 2), ' ')), 1, 8))::BIGINT % 8 = 0),
         |      i -> i + 2) AS cc
         |  FROM toks
         |),
         |b AS (
         |  SELECT doc_id, t, n,
         |    list_concat(list_concat([0], cc),
         |      CASE WHEN len(cc) = 0 OR cc[-1] <> n THEN [n] ELSE [] END) AS bd
         |  FROM cu
         |),
         |ch AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(array_to_string(list_slice(t, bd[j] + 1, bd[j + 1]), ' ')), 1, 15))::BIGINT AS chunk_key,
         |    (bd[j + 1] - bd[j])::BIGINT AS n_toks
         |  FROM (SELECT doc_id, t, bd, unnest(generate_series(1, len(bd) - 1)) AS j FROM b)
         |  WHERE bd[j + 1] > bd[j]
         |),
         |fr AS (SELECT chunk_key, count(*) AS cnt FROM ch GROUP BY chunk_key)
         |SELECT ch.doc_id, count(*)::BIGINT AS n_chunks,
         |  sum(CASE WHEN fr.cnt > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
         |  round(sum(CASE WHEN fr.cnt > 1 THEN ch.n_toks ELSE 0 END)::DOUBLE /
         |    sum(ch.n_toks), 6) AS dup_frac
         |FROM ch JOIN fr ON ch.chunk_key = fr.chunk_key
         |GROUP BY ch.doc_id""".stripMargin,

    // the bucketed layout is invisible to results: plain join + aggregate;
    // cent-integerized revenue so the sum is order-free
    "tpch_bucketed_join" ->
      """SELECT o.o_orderstatus,
        |  count(DISTINCT l.l_orderkey) AS n_orders,
        |  count(*) AS n_lines,
        |  sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100)
        |    AS BIGINT))::DOUBLE / 100.0 AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,

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
         |FROM s GROUP BY vec_id""".stripMargin
  )
}
