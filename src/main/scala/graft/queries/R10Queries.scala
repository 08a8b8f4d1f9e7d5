package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, SimilarityOps, TextOps}

/** Round-10 queries: the semantic (embedding-cluster) dedup tier and the
  * exact shared-span substring tier — the last two rungs of the dedup
  * ladder (document → paragraph → substring → semantic).
  *
  * Oracle strategy: the quantizer feeding [[DedupOps.semanticDedupAssigned]]
  * here is the FIXED-centroid [[SimilarityOps.ivfAssign]] (centroids =
  * `vec_id < 8`, the `sim_ivf_assign` convention) so DuckDB can replay the
  * assignment exactly; the learned-kmeans front end
  * ([[DedupOps.semanticDedup]]) is spec-covered (OpsSpec), since an
  * iterative seeded kmeans++ is not SQL-expressible.
  */
object R10Queries extends QuerySet {

  import Tables.emb

  /** Target in-cell population for the semantic-dedup quantizer: cells
    * grow ∝ corpus (k = ⌈n/TargetCell⌉, floor 8) so the in-cell pair
    * stage stays O(n · TargetCell) — LINEAR in corpus size — instead of
    * the O(n²/k) quadratic a fixed cell count degenerates to.  The
    * centroid set stays the deterministic `vec_id < k` prefix, so DuckDB
    * replays the assignment exactly at ANY scale (the learned-kmeans
    * front end, [[graft.ops.MlOps.kmeansFit]], is the production
    * quantizer and is spec-covered). */
  private val TargetCell = 64L

  // the embeddings row count per dir, computed once per JVM: several
  // semantic queries (× two bench passes) would otherwise each pay a
  // full table count just to derive k.  Contract (same as coEdges /
  // IndexBuilds): one dir = one immutable dataset within a JVM —
  // rewriting a dir's data mid-JVM requires a fresh process (or dir)
  private val embCounts =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** The fixed-centroid cluster assignment shared by the semantic-dedup
    * queries: (vec_id, cluster), with corpus-proportional cell count. */
  private def ivfClusters(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val n = embCounts.getOrElseUpdate(dir, e.count())
    val k = math.max(8L, math.ceil(n / TargetCell.toDouble).toLong)
    SimilarityOps.ivfAssign(e, col("embedding"), col("vec_id"),
      e.where(col("vec_id") < k), col("embedding"), col("vec_id"))
      .select(col("vec_id"), col("centroid_id").as("cluster"))
  }

  /** In-cluster cosine pairs at the semantic tier's standard threshold
    * (0.4) over the [[ivfClusters]] assignment — landed once per
    * (JVM, dir): the pair query and the SemDeDup keeper projection both
    * consume exactly this pair set.  (doc_a, doc_b, cos 6-dp) — exact
    * parquet round-trip. */
  private def semanticPairs04(s: SparkSession, dir: String): DataFrame =
    Layout.land(s, dir, "sem_pairs04", "doc_a") {
      DedupOps.semanticPairs(emb(s, dir), col("embedding"), col("vec_id"),
        ivfClusters(s, dir), minCosine = 0.4)
    }

  /** The ivfAssign CTE prefix shared by the semantic oracle SQL — the
    * centroid count mirrors [[ivfClusters]]'s ⌈n/TargetCell⌉ (floor 8). */
  private val AsgSql =
    """c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
      |  WHERE vec_id < greatest(8, ceil((SELECT count(*) FROM embeddings) / 64.0))),
      |s AS (
      |  SELECT e.vec_id, c.centroid_id,
      |    round(
      |      list_reduce(list_transform(list_zip(e.embedding, c.cv),
      |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
      |      (sqrt(list_reduce(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
      |       sqrt(list_reduce(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
      |      6) AS ccos
      |  FROM embeddings e CROSS JOIN c
      |),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
      |  FROM s
      |),
      |asg AS (SELECT vec_id, centroid_id AS cluster FROM r WHERE rn = 1),
      |p AS (
      |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
      |    round(
      |      list_reduce(list_transform(list_zip(a.embedding, b.embedding),
      |        x -> x[1]::DOUBLE * x[2]::DOUBLE), (x, y) -> x + y) /
      |      (sqrt(list_reduce(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) *
      |       sqrt(list_reduce(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))),
      |      6) AS cos
      |  FROM embeddings a
      |  JOIN asg aa ON aa.vec_id = a.vec_id
      |  JOIN asg bb ON bb.cluster = aa.cluster AND bb.vec_id > a.vec_id
      |  JOIN embeddings b ON b.vec_id = bb.vec_id
      |)""".stripMargin

  /** Fixture merge table for the BPE query: common English merges, ranked
    * in order (the shape a [[TextOps.bpeTrain]] run emits).  Rendered into
    * the oracle SQL from this single definition so the two sides can never
    * drift. */
  private val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "a" -> "t", "s" -> "t",
    "e" -> "n", "o" -> "r", "t" -> "i", "e" -> "s", "o" -> "u",
    "o" -> "f", "a" -> "l", "a" -> "r", "i" -> "s", "i" -> "t",
    "l" -> "e", "c" -> "o", "co" -> "m", "d" -> "e", "s" -> "e",
    "m" -> "e", "h" -> "e", "t" -> "o", "in" -> "g", "e" -> "d")

  private val BpeMergesSql = BpeMerges.zipWithIndex
    .map { case ((l, r), i) => s"('$l','$r',$i)" }.mkString(", ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Semantic-dedup pair stage: in-cluster cosine near-dups, cluster =
    // fixed-centroid IVF cell (one shuffle on the cluster id — the
    // embedding-tier analogue of an LSH bucket)
    "dd_semantic_pairs" -> ((s, dir) => semanticPairs04(s, dir)),

    // Full SemDeDup keeper projection: cluster -> in-cluster cosine pairs
    // -> connected components -> keep the min-id member of each dup group
    // (the pair stage comes from the same landed layout)
    "dd_semantic_keep" -> ((s, dir) =>
      DedupOps.removeClusterLosers(emb(s, dir), col("vec_id"),
        semanticPairs04(s, dir))
        .select(col("vec_id"), col("label").cast("long").as("label"))),

    // ExactSubstr span extraction: winnow-seeded maximal shared char runs
    // >= w+k-1 = 28 chars across candidate document pairs
    "dd_spans" -> ((s, dir) =>
      DedupOps.sharedSpansFrom(Tables.winnowPosAgg(s, dir), Tables.docs(s, dir),
        col("text"), col("doc_id"), k = 25, w = 4, maxDocFreq = 100)),

    // ExactSubstr removal: every shared span cut from the higher-id doc
    // (merged intervals), text rebuilt — the byte-range analogue of
    // dd_para_dedup's paragraph-aligned removal
    "dd_span_dedup" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      DedupOps.spanCutText(d, col("text"), col("doc_id"),
        DedupOps.sharedSpansFrom(Tables.winnowPosAgg(s, dir), d, col("text"),
          col("doc_id"), k = 25, w = 4, maxDocFreq = 100))
    }),

    // Incremental substring dedup: even docs are the persisted fingerprint
    // index, odd docs the new shard — candidates must equal the full-corpus
    // winnowPairs restricted to pairs touching an odd doc (the generalized
    // PersistedIndex pattern, winnow tier)
    "dd_incremental_winnow" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val indexed = d.where(col("doc_id") % 2 === 0)
      val shard = d.where(col("doc_id") % 2 === 1)
      val idx = R9Queries.runTmp + "/wn_index_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      IndexBuilds.once(s"dd_incremental_winnow:$dir") {
        DedupOps.winnowIndexWrite(indexed, col("text"), col("doc_id"), idx,
          k = 25, w = 4)
      }
      DedupOps.winnowCandidatesAgainst(idx, shard, col("text"),
        col("doc_id"), k = 25, w = 4, maxDocFreq = 100, minSharedFps = 2)
    }),

    // Batch form of continuous band-key dedup: every LSH bucket's first
    // owner under doc_id arrival order (streaming counterpart spec-proven
    // equal in OpsSpec)
    "dd_band_owners" -> ((s, dir) =>
      DedupOps.bandFirstOwners(Tables.docs(s, dir), col("text"),
        col("doc_id"), col("doc_id"))),

    // Benchmark decontamination: word-5-gram overlap of the corpus against
    // a probe "benchmark" (docs 0-4); neither side df-capped, probe
    // postings broadcast
    "text_contam" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      DedupOps.contaminationPairs(d, col("text"), col("doc_id"),
        d.where(col("doc_id") < 5), col("text"), col("doc_id"), n = 5)
    }),

    // N-gram novelty: fraction of each doc's 5-grams found nowhere else
    "text_novelty" -> ((s, dir) =>
      DedupOps.noveltyScore(Tables.docs(s, dir), col("text"),
        col("doc_id"), n = 5)),

    // ... the per-source leakage dashboard over the same probe
    "text_contam_rate" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      DedupOps.contaminationReport(d, col("text"), col("doc_id"),
        col("source"), d.where(col("doc_id") < 5), col("text"),
        col("doc_id"), n = 5)
    }),

    // ... and the anti-join that removes the contaminated documents
    "text_decontam" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      DedupOps.decontaminate(d, col("text"), col("doc_id"),
        d.where(col("doc_id") < 5), col("text"), col("doc_id"), n = 5)
        .select("doc_id", "source", "lang")
    }),

    // Substring-tier contamination: exact shared char spans between the
    // corpus and the doc 0-4 probe (catches reformatted benchmark text the
    // token-n-gram check can miss); uncapped probe-bounded candidates
    "text_contam_spans" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      DedupOps.contaminationSpansFrom(Tables.winnowPosAgg(s, dir), d,
        col("text"), col("doc_id"),
        d.where(col("doc_id") < 5), col("text"), col("doc_id"), k = 25, w = 4)
    }),

    // Real greedy-BPE subword tokenization under a fixed ranked merge
    // table (broadcast; narrow kernel) — count + order-sensitive hash of
    // the full token stream per document
    "text_bpe_tokens" -> ((s, dir) =>
      TextOps.bpeTokens(Tables.docs(s, dir), col("text"), col("doc_id"),
        BpeMerges)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("tokens"))).as("tok_hash")))
  )

  /** Winnow-selection CTE prefix (k=25, w=4): lowercased grams → selected
    * fingerprints → df-capped postings `p` — the front half of the
    * `dd_substr_pairs` oracle, shared by the span and incremental-winnow
    * oracles. */
  private val WinnowFpSql =
    """d AS (SELECT doc_id, lower(text) AS t FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT doc_id, t, length(t) - 25 + 1 AS nh FROM d WHERE length(t) >= 25),
      |hx AS (SELECT doc_id, nh, unnest(generate_series(1, nh)) AS i, t FROM g),
      |h AS (
      |  SELECT doc_id, nh, i - 1 AS pos, substr(t, i, 25) AS gm,
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
      |p AS (SELECT fps.* FROM fps JOIN rare USING (fp))""".stripMargin

  /** Span-oracle CTE suffix: candidate pairs → full-gram match grid →
    * maximal runs per diagonal (gaps-and-islands) = maximal shared char
    * spans.  The grid joins on the GRAM TEXT (not the hash), mirroring the
    * kernel's char-verified extension. */
  private val SpanSql = WinnowFpSql + """,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |),
      |grid AS (
      |  SELECT c.doc_a, c.doc_b, ha.pos AS pa, hb.pos AS pb
      |  FROM cand c
      |  JOIN h ha ON ha.doc_id = c.doc_a
      |  JOIN h hb ON hb.doc_id = c.doc_b AND hb.gm = ha.gm
      |),
      |runs AS (
      |  SELECT doc_a, doc_b, pa - pb AS diag, pa,
      |         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
      |  FROM grid
      |),
      |spans AS (
      |  SELECT doc_a, doc_b, min(pa) AS start_a, min(pa) - diag AS start_b,
      |         max(pa) - min(pa) + 25 AS len
      |  FROM runs GROUP BY doc_a, doc_b, diag, grp
      |)""".stripMargin

  /** Contamination-oracle CTE prefix: distinct word-5-gram hash postings
    * for the corpus and the probe (docs 0-4) — the `dd_jaccard` shingle
    * vocabulary, uncapped. */
  private val ContamSql =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
      |  FROM documents
      |),
      |shg AS (
      |  SELECT doc_id,
      |         CASE WHEN len(t) >= 5
      |              THEN list_transform(generate_series(1, len(t) - 4), i -> array_to_string(t[i:i+4], ' '))
      |              ELSE [array_to_string(t, ' ')] END AS shs
      |  FROM toks
      |),
      |post AS (
      |  SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS sh
      |  FROM (SELECT doc_id, unnest(shs) AS s FROM shg)
      |),
      |probe AS (SELECT doc_id AS probe_id, sh FROM post WHERE doc_id < 5)""".stripMargin

  def oracles: Map[String, String] = Map(

    "dd_semantic_pairs" ->
      s"""WITH $AsgSql
         |SELECT doc_a, doc_b, cos FROM p WHERE cos >= 0.4""".stripMargin,

    "dd_semantic_keep" ->
      s"""WITH RECURSIVE $AsgSql,
         |cj AS (SELECT doc_a, doc_b FROM p WHERE cos >= 0.4),
         |e2 AS (SELECT doc_a AS a, doc_b AS b2 FROM cj UNION ALL SELECT doc_b, doc_a FROM cj),
         |n AS (SELECT DISTINCT a AS node FROM e2),
         |reach(node, rt) AS (
         |  SELECT node, node FROM n
         |  UNION
         |  SELECT e2.a, reach.rt FROM e2 JOIN reach ON reach.node = e2.b2
         |),
         |cl AS (SELECT node AS vid, min(rt) AS keeper_id FROM reach GROUP BY node)
         |SELECT vec_id, label::BIGINT AS label FROM embeddings
         |WHERE vec_id NOT IN (SELECT vid FROM cl WHERE vid <> keeper_id)""".stripMargin,

    "dd_spans" ->
      s"""WITH $SpanSql
         |SELECT doc_a, doc_b, start_a, start_b, len FROM spans
         |WHERE len >= 28""".stripMargin,

    "dd_span_dedup" ->
      s"""WITH $SpanSql,
         |rm AS (
         |  SELECT doc_b AS doc_id, start_b AS s, start_b + len AS e
         |  FROM spans WHERE len >= 28
         |),
         |sw AS (
         |  SELECT doc_id, s, e,
         |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
         |  FROM rm
         |),
         |gi AS (
         |  SELECT doc_id, s, e,
         |    CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END AS ng
         |  FROM sw
         |),
         |gg AS (
         |  SELECT doc_id, s, e,
         |    sum(ng) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
         |  FROM gi
         |),
         |mi AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM gg GROUP BY doc_id, grp),
         |segs AS (
         |  SELECT doc_id,
         |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS cs,
         |    s AS ce
         |  FROM mi
         |  UNION ALL
         |  SELECT m.doc_id, max(m.e) AS cs, max(length(d.t)) AS ce
         |  FROM mi m JOIN d ON d.doc_id = m.doc_id GROUP BY m.doc_id
         |),
         |rebuilt AS (
         |  SELECT s.doc_id,
         |    string_agg(substr(d.t, (s.cs + 1)::BIGINT, (s.ce - s.cs)::BIGINT), '' ORDER BY s.cs) AS rt
         |  FROM segs s JOIN d ON d.doc_id = s.doc_id
         |  WHERE s.ce > s.cs
         |  GROUP BY s.doc_id
         |)
         |SELECT d0.doc_id,
         |  CASE WHEN d0.doc_id IN (SELECT doc_id FROM mi)
         |       THEN coalesce(r.rt, '')
         |       ELSE lower(d0.text) END AS deduped_text
         |FROM documents d0 LEFT JOIN rebuilt r ON r.doc_id = d0.doc_id""".stripMargin,

    // full-corpus winnow pairs (df-cap over the whole corpus = index ∪
    // shard), restricted to pairs touching the odd (new-shard) docs
    "dd_incremental_winnow" ->
      s"""WITH $WinnowFpSql,
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
         |  FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2
         |)
         |SELECT * FROM pr WHERE doc_a % 2 = 1 OR doc_b % 2 = 1""".stripMargin,

    "dd_band_owners" ->
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
        |SELECT band, band_key, min(doc_id) AS owner_id
        |FROM bk GROUP BY band, band_key""".stripMargin,

    "text_contam" ->
      s"""WITH $ContamSql
         |SELECT c.doc_id, p.probe_id, count(*) AS shared_ngrams
         |FROM post c JOIN probe p USING (sh)
         |GROUP BY 1, 2""".stripMargin,

    // reuses the ContamSql 5-gram postings (its probe CTE goes unused)
    "text_novelty" ->
      s"""WITH $ContamSql,
         |dfq AS (SELECT sh, count(*) AS df FROM post GROUP BY 1)
         |SELECT p.doc_id, count(*)::BIGINT AS n_ngrams,
         |  sum(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel,
         |  sum(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE AS novelty
         |FROM post p JOIN dfq USING (sh)
         |GROUP BY 1""".stripMargin,

    "text_contam_rate" ->
      s"""WITH $ContamSql,
         |bad AS (SELECT DISTINCT c.doc_id FROM post c JOIN probe p USING (sh))
         |SELECT d.source AS grp, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
         |  sum(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE AS rate
         |FROM documents d LEFT JOIN bad b USING (doc_id)
         |GROUP BY 1""".stripMargin,

    "text_decontam" ->
      s"""WITH $ContamSql
         |SELECT doc_id, source, lang FROM documents
         |WHERE doc_id NOT IN (
         |  SELECT DISTINCT c.doc_id FROM post c JOIN probe p USING (sh))""".stripMargin,

    // winnow prefix + probe-restricted candidate pairs + the span
    // grid/runs reconstruction of the dd_spans oracle
    "text_contam_spans" ->
      s"""WITH $WinnowFpSql,
         |candp AS (
         |  SELECT DISTINCT c.doc_id AS doc_a, pb.doc_id AS doc_b
         |  FROM fps c JOIN fps pb ON c.fp = pb.fp AND pb.doc_id < 5
         |),
         |gridp AS (
         |  SELECT c.doc_a, c.doc_b, ha.pos AS pa, hb.pos AS pb
         |  FROM candp c
         |  JOIN h ha ON ha.doc_id = c.doc_a
         |  JOIN h hb ON hb.doc_id = c.doc_b AND hb.gm = ha.gm
         |),
         |runsp AS (
         |  SELECT doc_a, doc_b, pa - pb AS diag, pa,
         |         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
         |  FROM gridp
         |),
         |spansp AS (
         |  SELECT doc_a, doc_b, min(pa) AS start_a, min(pa) - diag AS start_b,
         |         max(pa) - min(pa) + 25 AS len
         |  FROM runsp GROUP BY doc_a, doc_b, diag, grp
         |)
         |SELECT doc_a AS doc_id, doc_b AS probe_id, start_a AS start,
         |       start_b AS probe_start, len
         |FROM spansp WHERE len >= 28""".stripMargin,

    // greedy BPE replayed as a SQL recursion: one leftmost lowest-rank
    // merge per step per word until no adjacent pair is in the table
    "text_bpe_tokens" ->
      s"""WITH RECURSIVE
         |m AS (SELECT * FROM (VALUES $BpeMergesSql) m(l, r, rnk)),
         |mp AS (SELECT map(list(l || chr(9) || r), list(rnk)) AS mp FROM m),
         |wl AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
         |  FROM documents
         |),
         |w0 AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS wid, ws FROM wl),
         |w AS (SELECT doc_id, wid, ws[wid] AS wrd FROM w0),
         |rec(doc_id, wid, toks, it) AS (
         |  SELECT doc_id, wid,
         |    list_transform(generate_series(1, length(wrd)), i -> substr(wrd, i, 1)), 0
         |  FROM w
         |  UNION ALL
         |  SELECT doc_id, wid,
         |    list_concat(list_concat(toks[1:bp-1], [toks[bp] || toks[bp+1]]), toks[bp+2:]),
         |    it + 1
         |  FROM (
         |    SELECT doc_id, wid, toks, it,
         |      list_min(rk) AS br, list_position(rk, list_min(rk)) AS bp
         |    FROM (
         |      SELECT r.doc_id, r.wid, r.toks, r.it,
         |        list_transform(generate_series(1, len(r.toks) - 1),
         |          i -> coalesce(map_extract(mp.mp, r.toks[i] || chr(9) || r.toks[i+1])[1], 999999)) AS rk
         |      FROM rec r CROSS JOIN mp
         |      WHERE len(r.toks) > 1
         |    )
         |  ) WHERE br < 999999
         |),
         |fin AS (SELECT doc_id, wid, arg_max(toks, it) AS toks FROM rec GROUP BY doc_id, wid)
         |SELECT doc_id, sum(len(toks))::BIGINT AS n_tokens,
         |  md5(string_agg(array_to_string(toks, ' '), ' ' ORDER BY wid)) AS tok_hash
         |FROM fin GROUP BY doc_id""".stripMargin
  )
}
