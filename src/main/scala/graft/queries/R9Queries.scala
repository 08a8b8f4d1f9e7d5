package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Round-9 queries: the next dedup tier for continuous corpus curation —
  * paragraph-level exact dedup (repeated spans across documents), the
  * SimHash Hamming confirm stage, and incremental dedup of a new shard
  * against a persisted MinHash band index.  All oracle-checked.
  */
object R9Queries {

  import Tables.{docs, emb}

  /** Per-PROCESS scratch root for the persisted-index queries.
    * `createTempDirectory` makes the path unique per run, so two concurrent
    * harness runs over the same data dir can never race on the
    * mode(overwrite) index writes; the shutdown hook removes the artifacts
    * when the JVM exits (the indexes must outlive the lazy query plan that
    * reads them, so deletion inside the query builder is not an option). */
  private[queries] lazy val runTmp: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_run_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(p.toFile)
    }))
    p.toString
  }

  /** The synthetic documents carry no newlines, so the paragraph queries
    * split on a literal token separator that occurs mid-document (" table ")
    * — same left-to-right non-overlapping split in Spark and DuckDB.  Real
    * corpora would pass the default blank-line regex. */
  private val ParaSep = " table "

  /** Shared oracle CTE: documents exploded into normalized paragraphs with
    * 0-based indexes over the surviving (trimmed, non-empty) paragraphs. */
  private val ParaCte =
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
      |)""".stripMargin

  /** Shared oracle CTE: the MinHash band table over ALL documents (same
    * signature construction as the dd_minhash_* oracles). */
  private val BandCte =
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
      |)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Paragraph-level exact dedup: every paragraph instance labeled with its
    // corpus-wide keeper flag and duplicate-group size
    "dd_para_exact" -> ((s, dir) =>
      DedupOps.paragraphExact(docs(s, dir), col("text"), col("doc_id"),
        sepRegex = ParaSep)),

    // Paragraph dedup applied: rebuild each document with non-first
    // paragraph occurrences removed
    "dd_para_dedup" -> ((s, dir) =>
      DedupOps.paragraphDedupedText(docs(s, dir), col("text"), col("doc_id"),
        sepRegex = ParaSep, joinSep = " ")),

    // SimHash candidates confirmed by Hamming distance over the 60-bit
    // signatures (threshold wide enough to keep the planted near-dups,
    // tight enough to cut band-collision noise).  20 > 3 means banding-
    // bounded recall — opted into explicitly; the oracle mirrors the same
    // banding, so the compare is exact either way
    "dd_simhash_ham" -> ((s, dir) =>
      DedupOps.simhashPairs(docs(s, dir), col("text"), col("doc_id"),
        maxHamming = 20, approxRecall = true)),

    // Winnowing (MOSS) substring fingerprints: any shared substring of
    // length >= w + k - 1 = 11 chars yields a shared fingerprint
    "text_winnow" -> ((s, dir) =>
      DedupOps.winnowFingerprints(docs(s, dir), col("text"), col("doc_id"),
        k = 8, w = 4)),

    // Substring-overlap candidate pairs over the winnowing fingerprints —
    // scale-realistic parameters: 25-char grams (shared substrings >= 28
    // chars, boilerplate territory) and >= 2 shared fingerprints per pair,
    // thresholded inside the aggregate
    "dd_substr_pairs" -> ((s, dir) =>
      DedupOps.winnowPairsFrom(Tables.winnowPosAgg(s, dir), maxDocFreq = 100,
        minSharedFps = 2)),

    // Corpus token-frequency fluency score (LM-free CCNet-perplexity
    // stand-in; integer-exact)
    "text_token_freq" -> ((s, dir) =>
      TextOps.tokenFrequencyScore(docs(s, dir), col("text"), col("doc_id"))),

    // CCNet head/middle/tail tiers by exact corpus-wide quality rank
    "text_quality_tiers" -> ((s, dir) =>
      TextOps.qualityTiers(docs(s, dir), col("text"), col("doc_id"),
        tiers = 3)),

    // Gopher-style within-document repetition features (dup-paragraph
    // fraction, dominant-bigram coverage)
    "text_repetition" -> ((s, dir) =>
      TextOps.repetitionFeatures(docs(s, dir), col("text"), col("doc_id"),
        sepRegex = ParaSep)),

    // End-to-end fuzzy dedup: MinHash candidates -> Jaccard confirm ->
    // clusters -> keeper projection (fuzzyDedup's stages, composed over
    // the landed candidate and pair-statistics layouts)
    "dd_fuzzy_keep" -> ((s, dir) =>
      DedupOps.removeClusterLosers(docs(s, dir), col("doc_id"),
        DedupOps.jaccardFromStats(Tables.minhashCands(s, dir)
          .join(Tables.ngramPairStats(s, dir), Seq("doc_a", "doc_b")),
          minJaccard = 0.5))
        .select("doc_id", "source", "lang")),

    // Persisted IVF index: corpus written partitioned by coarse cell, then
    // searched — identical semantics (and oracle) to sim_ivf_topk, but the
    // scan prunes to the probed cells' partition directories
    "sim_ivf_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      // under the per-run scratch root (no cross-process races); the full
      // sanitized dir keeps distinct data dirs from colliding within a run
      val idx = runTmp + "/ivf_index_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      IndexBuilds.once(s"sim_ivf_persisted:$dir") {
        SimilarityOps.ivfIndexWrite(e, col("embedding"), col("vec_id"),
          e.where(col("vec_id") < 8), col("embedding"), col("vec_id"), idx)
      }
      // the drift-proof overload: probes with the index's OWN quantizer
      SimilarityOps.ivfSearchIndex(s, idx,
        e.where(col("vec_id") >= 8 && col("vec_id") < 13),
        col("embedding"), col("vec_id"), k = 10, nprobe = 2)
    }),

    // Incremental dedup: even-id documents are the already-indexed corpus
    // (band table persisted), odd-id documents the newly ingested shard;
    // candidates = full-corpus pairs touching at least one new doc
    "dd_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val indexed = d.where(col("doc_id") % 2 === 0)
      val shard = d.where(col("doc_id") % 2 === 1)
      val idx = runTmp + "/mh_index_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      IndexBuilds.once(s"dd_incremental:$dir") {
        DedupOps.minhashIndexWrite(indexed, col("text"), col("doc_id"), idx)
      }
      DedupOps.minhashCandidatesAgainst(idx, shard, col("text"), col("doc_id"))
    })
  )

  def oracles: Map[String, String] = Map(
    "dd_para_exact" ->
      s"""$ParaCte
         |SELECT doc_id, para_idx, para_hash,
         |       row_number() OVER (PARTITION BY para_hash
         |         ORDER BY doc_id, para_idx) = 1 AS is_keeper,
         |       count(*) OVER (PARTITION BY para_hash) AS dup_cnt
         |FROM p""".stripMargin,

    "dd_para_dedup" ->
      s"""$ParaCte,
         |k AS (
         |  SELECT *, row_number() OVER (PARTITION BY para_hash
         |    ORDER BY doc_id, para_idx) AS rn
         |  FROM p
         |),
         |r AS (
         |  SELECT doc_id, string_agg(para, ' ' ORDER BY para_idx) AS deduped_text
         |  FROM k WHERE rn = 1 GROUP BY doc_id
         |)
         |SELECT d.doc_id, coalesce(r.deduped_text, '') AS deduped_text
         |FROM documents d LEFT JOIN r USING (doc_id)""".stripMargin,

    "dd_simhash_ham" ->
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
        |),
        |sg AS (
        |  SELECT doc_id,
        |       CAST(list_reduce(list_transform(generate_series(0, 59), i ->
        |         CASE WHEN list_reduce(list_transform(hs, hv ->
        |                CASE WHEN ((hv >> i) & 1) = 1 THEN 1 ELSE -1 END), (a, b) -> a + b) > 0
        |              THEN (1::BIGINT << i) ELSE 0::BIGINT END), (a, b) -> a + b) AS BIGINT) AS sh
        |  FROM h
        |),
        |b AS (
        |  SELECT doc_id, sh, band, (sh >> (15 * band)) & 32767 AS key
        |  FROM sg CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)
        |),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |         x.sh AS sh_a, y.sh AS sh_b
        |  FROM b x JOIN b y
        |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
        |)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(sh_a, sh_b)) <= 20""".stripMargin,

    "dd_incremental" ->
      s"""$BandCte
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |FROM bk x JOIN bk y
         |  ON x.band = y.band AND x.band_key = y.band_key
         |  AND x.doc_id < y.doc_id
         |WHERE x.doc_id % 2 = 1 OR y.doc_id % 2 = 1""".stripMargin,

    // same semantics as sim_ivf_topk — the persisted index must reproduce
    // the in-memory search bit-for-bit
    "sim_ivf_persisted" -> CoverageQueries.oracles("sim_ivf_topk"),

    // winnowing mirror: window-min by composite HUGEINT key (hv, pos) over
    // full windows; short docs take their single overall minimum
    "text_winnow" ->
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, t, length(t) - 8 + 1 AS nh FROM d WHERE length(t) >= 8),
        |hx AS (SELECT doc_id, nh, unnest(generate_series(1, nh)) AS i, t FROM g),
        |h AS (
        |  SELECT doc_id, nh, i - 1 AS pos,
        |         ('0x' || substr(md5(substr(t, i, 8)), 1, 15))::BIGINT AS hv
        |  FROM hx
        |),
        |sf AS (
        |  SELECT doc_id, nh, pos,
        |    arg_min(pos, hv::HUGEINT * 1048576 + pos) OVER
        |      (PARTITION BY doc_id ORDER BY pos
        |       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
        |  FROM h
        |),
        |sels AS (
        |  SELECT DISTINCT doc_id, sel AS pos FROM sf
        |  WHERE nh > 4 AND pos <= nh - 4
        |  UNION
        |  SELECT doc_id, arg_min(pos, hv::HUGEINT * 1048576 + pos) AS pos
        |  FROM h WHERE nh <= 4 GROUP BY doc_id
        |)
        |SELECT s.doc_id, s.pos, h.hv AS fp
        |FROM sels s JOIN h ON h.doc_id = s.doc_id AND h.pos = s.pos""".stripMargin,

    "dd_substr_pairs" ->
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, t, length(t) - 25 + 1 AS nh FROM d WHERE length(t) >= 25),
        |hx AS (SELECT doc_id, nh, unnest(generate_series(1, nh)) AS i, t FROM g),
        |h AS (
        |  SELECT doc_id, nh, i - 1 AS pos,
        |         ('0x' || substr(md5(substr(t, i, 25)), 1, 15))::BIGINT AS hv
        |  FROM hx
        |),
        |sf AS (
        |  SELECT doc_id, nh, pos,
        |    arg_min(pos, hv::HUGEINT * 1048576 + pos) OVER
        |      (PARTITION BY doc_id ORDER BY pos
        |       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
        |  FROM h
        |),
        |sels AS (
        |  SELECT DISTINCT doc_id, sel AS pos FROM sf
        |  WHERE nh > 4 AND pos <= nh - 4
        |  UNION
        |  SELECT doc_id, arg_min(pos, hv::HUGEINT * 1048576 + pos) AS pos
        |  FROM h WHERE nh <= 4 GROUP BY doc_id
        |),
        |fps AS (
        |  SELECT DISTINCT s.doc_id, h.hv AS fp
        |  FROM sels s JOIN h ON h.doc_id = s.doc_id AND h.pos = s.pos
        |),
        |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 100),
        |p AS (SELECT fps.* FROM fps JOIN rare USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
        |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    "text_token_freq" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> x <> '')) AS token
        |  FROM documents
        |),
        |f AS (SELECT token, count(*) AS tf FROM tk GROUP BY 1)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(sum(tf)::DOUBLE / count(*)::DOUBLE, 6) AS mean_token_freq,
        |  min(tf) AS min_token_freq
        |FROM tk JOIN f USING (token) GROUP BY doc_id""".stripMargin,

    // quality formula identical to text_quality's oracle; tiers by exact
    // rank over (quality DESC, doc_id)
    "text_quality_tiers" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |f AS (
        |  SELECT doc_id,
        |    len(toks) AS n_tokens,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_cnt,
        |    len(list_filter(toks, x -> x IN ('the','a','an','and','of','to','in','is','for','on'))) AS stop_hits
        |  FROM t
        |),
        |q AS (
        |  SELECT doc_id, round(
        |    0.4 * least(CAST(1.0 AS DOUBLE), n_tokens::DOUBLE / 200.0) +
        |    0.3 * (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), punct_cnt::DOUBLE / greatest(n_tokens, 1)::DOUBLE)) +
        |    0.3 * least(CAST(1.0 AS DOUBLE), (stop_hits::DOUBLE / greatest(n_tokens, 1)::DOUBLE) * 5.0),
        |    6) AS quality
        |  FROM f
        |),
        |r AS (
        |  SELECT doc_id, quality,
        |         row_number() OVER (ORDER BY quality DESC, doc_id) - 1 AS rk
        |  FROM q
        |)
        |SELECT doc_id, quality,
        |       (rk * 3) // (SELECT count(*) FROM documents) AS tier
        |FROM r""".stripMargin,

    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
        |         list_filter(list_transform(string_split(text, ' table '),
        |           x -> trim(x)), x -> x <> '') AS ps
        |  FROM documents
        |),
        |x AS (
        |  SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
        |  FROM t
        |),
        |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS b FROM x),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |mb AS (SELECT doc_id, max(c) AS mc FROM bc GROUP BY 1),
        |base AS (
        |  SELECT doc_id, len(toks) AS n, len(ps) AS np,
        |         len(list_distinct(ps)) AS dp
        |  FROM t
        |)
        |SELECT base.doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(np AS BIGINT) AS n_paras,
        |  round((np - dp)::DOUBLE / greatest(np, 1)::DOUBLE, 6) AS dup_para_frac,
        |  round(2.0 * coalesce(mc, 0)::DOUBLE / greatest(n, 1)::DOUBLE, 6) AS top_bigram_frac
        |FROM base LEFT JOIN mb USING (doc_id)""".stripMargin,

    // full pipeline mirror: bands -> candidates -> df-capped postings ->
    // Jaccard confirm on candidates -> recursive connected components ->
    // anti-join the non-keepers
    "dd_fuzzy_keep" ->
      """WITH RECURSIVE toks AS (
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
        |sig AS (
        |  SELECT doc_id,
        |         list_transform(generate_series(0, 15), j ->
        |           list_min(list_transform(list_distinct(shs), sgl ->
        |             (('0x' || substr(md5(sgl), 1, 15))::BIGINT
        |              + j * ('0x' || substr(md5(sgl), 17, 14))::BIGINT)
        |             % 1152921504606846976))) AS sg
        |  FROM shg
        |),
        |bb AS (SELECT doc_id, sg, unnest(generate_series(0, 3)) AS band FROM sig),
        |bk AS (
        |  SELECT doc_id, band,
        |         md5(array_to_string(sg[band * 4 + 1 : band * 4 + 4], ',')) AS band_key
        |  FROM bb
        |),
        |mp AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bk x JOIN bk y
        |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
        |),
        |p1 AS (SELECT doc_id, unnest(shs) AS s FROM shg),
        |post0 AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS sh FROM p1),
        |rare AS (SELECT sh FROM post0 GROUP BY sh HAVING count(*) <= 100),
        |post AS (SELECT post0.* FROM post0 JOIN rare USING (sh)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM post GROUP BY doc_id),
        |cm AS (
        |  SELECT mp.doc_a, mp.doc_b, count(*) AS common
        |  FROM mp
        |  JOIN post pa ON pa.doc_id = mp.doc_a
        |  JOIN post pb ON pb.doc_id = mp.doc_b AND pb.sh = pa.sh
        |  GROUP BY 1, 2
        |),
        |cj AS (
        |  SELECT cm.doc_a, cm.doc_b
        |  FROM cm
        |  JOIN sizes sa ON sa.doc_id = cm.doc_a
        |  JOIN sizes sb ON sb.doc_id = cm.doc_b
        |  WHERE round(common::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE, 6) >= 0.5
        |),
        |e AS (SELECT doc_a AS a, doc_b AS b2 FROM cj UNION ALL SELECT doc_b, doc_a FROM cj),
        |n AS (SELECT DISTINCT a AS node FROM e),
        |reach(node, r) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.b2
        |),
        |cl AS (SELECT node AS doc_id, min(r) AS keeper_id FROM reach GROUP BY node)
        |SELECT doc_id, source, lang FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id <> keeper_id)""".stripMargin
  )
}
