package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Corpus deduplication: exact, normalized, paragraph and substring
  * dedup, MinHash/SimHash candidate and confirm stages, cluster keepers,
  * persisted band indexes, and the curation pipelines built from them.
  * Names: `dd`, `pipe`. */
object DedupQueries extends QuerySet {

  import Tables.{docs, emb}
  import MediaQueries.{framePairsAcross, framePairsWithin, y4mFrameHashes,
    y4mFramePairsSql}
  import SimilarityQueries.{cosSql, srpKeySql}
  import TextQueries.toksSql

  /** Oracle CTE body (no `WITH`): `toks(doc_id, t)`, each document's
    * tokens, and `shg(doc_id, shs)`, its word-n shingles (the whole token
    * string when it has fewer than n), de-duplicated when `distinct`. */
  private[queries] def shingleCte(distinct: Boolean, n: Int = 3): String = {
    val shs = s"""CASE WHEN len(t) >= $n
      |              THEN list_transform(generate_series(1, len(t) - ${n - 1}), i -> array_to_string(t[i:i+${n - 1}], ' '))
      |              ELSE [array_to_string(t, ' ')] END""".stripMargin
    s"""toks AS (
      |  SELECT doc_id, ${toksSql("text")} AS t
      |  FROM documents
      |),
      |shg AS (
      |  SELECT doc_id,
      |         ${if (distinct) s"list_distinct($shs)" else shs} AS shs
      |  FROM toks
      |)""".stripMargin
  }

  /** Oracle CTE body over [[shingleCte]]'s `shg`: `post(doc_id, sh)`, the
    * 60-bit shingle hashes held by at most 100 documents. */
  private val PostCte =
    """p1 AS (SELECT doc_id, unnest(shs) AS s FROM shg),
      |post0 AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS sh FROM p1),
      |rare AS (SELECT sh FROM post0 GROUP BY sh HAVING count(*) <= 100),
      |post AS (SELECT post0.* FROM post0 JOIN rare USING (sh))""".stripMargin

  /** Shared oracle CTEs: tokens + word-3-shingle postings over documents. */
  private val PostingsCte = s"WITH ${shingleCte(distinct = false)},\n$PostCte"

  /** Oracle CTE body over `shg`: `sig(doc_id, sg)`, 16 MinHash values per
    * document over `shingles` (an expression over `shs`). */
  private def minhashSigCte(shingles: String): String =
    s"""sig AS (
      |  SELECT doc_id,
      |         list_transform(generate_series(0, 15), j ->
      |           list_min(list_transform($shingles, sgl ->
      |             (('0x' || substr(md5(sgl), 1, 15))::BIGINT
      |              + j * ('0x' || substr(md5(sgl), 17, 14))::BIGINT)
      |             % 1152921504606846976))) AS sg
      |  FROM shg
      |)""".stripMargin

  /** The band-key projection over a `(doc_id, sg, band)` table: 4 bands
    * of 4 MinHash values each, keyed by the md5 of the band's values. */
  private def bandKeySelect(bands: String): String =
    s"""SELECT doc_id, band,
      |       md5(array_to_string(sg[band * 4 + 1 : band * 4 + 4], ',')) AS band_key
      |FROM $bands""".stripMargin

  /** Oracle CTE body over `sig`: the band rows `bands(doc_id, sg, band)`
    * and their keys `bk(doc_id, band, band_key)`. */
  private def bandKeyCte(bands: String): String =
    s"""$bands AS (SELECT doc_id, sg, unnest(generate_series(0, 3)) AS band FROM sig),
      |bk AS (
      |${bandKeySelect(bands)}
      |)""".stripMargin

  /** The id-ordered candidate pairs: two documents sharing a band key. */
  private val MinhashPairSelect =
    """SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |FROM bk x JOIN bk y
      |  ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id""".stripMargin

  /** Oracle CTE body (no `WITH`): the MinHash band table over ALL
    * documents, ending at `bk(doc_id, band, band_key)` — the dd_minhash_*
    * signature construction. */
  private val MinhashBandCte =
    s"""${shingleCte(distinct = true)},
      |${minhashSigCte("shs")},
      |${bandKeyCte("b")}""".stripMargin

  /** Oracle CTE body over [[shingleCte]]'s `shg`: `h(doc_id, hs)`, the
    * shingles' 60-bit hashes. */
  private val ShingleHashCte =
    """h AS (
      |  SELECT doc_id,
      |         list_transform(shs, tk -> ('0x' || substr(md5(tk), 1, 15))::BIGINT) AS hs
      |  FROM shg
      |)""".stripMargin

  /** The 60-bit SimHash of `h`'s hashes: bit i set when most hashes set it. */
  private val SimhashExpr =
    """CAST(list_reduce(list_transform(generate_series(0, 59), i ->
      |         CASE WHEN list_reduce(list_transform(hs, hv ->
      |                CASE WHEN ((hv >> i) & 1) = 1 THEN 1 ELSE -1 END), (a, b) -> a + b) > 0
      |              THEN (1::BIGINT << i) ELSE 0::BIGINT END), (a, b) -> a + b) AS BIGINT)""".stripMargin

  /** Oracle CTE body (no `WITH`): each document's SimHash,
    * `sg(doc_id, sh)`, over its word-3 shingles. */
  private val SimhashCte =
    s"""${shingleCte(distinct = false)},
      |$ShingleHashCte,
      |sg AS (
      |  SELECT doc_id,
      |       $SimhashExpr AS sh
      |  FROM h
      |)""".stripMargin

  /** The `dd_exact_keep` oracle, shared with the queries that wrap it. */
  private lazy val DdExactKeepSql: String =
    """SELECT doc_id, source, lang FROM documents
      |WHERE doc_id IN (
      |  SELECT min(doc_id) FROM documents GROUP BY md5(text)
      |)""".stripMargin

  /** The synthetic documents carry no newlines, so the paragraph queries
    * split on a literal token separator that occurs mid-document (" table ")
    * — same left-to-right non-overlapping split in Spark and DuckDB.  Real
    * corpora would pass the default blank-line regex. */
  private[queries] val ParaSep = " table "

  /** Shared oracle CTE: documents exploded into normalized paragraphs with
    * 0-based indexes over the surviving (trimmed, non-empty) paragraphs. */
  private[queries] val ParaCte =
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

  /** The `dd_fuzzy_keep` oracle, shared with the queries that wrap it. */
  private lazy val DdFuzzyKeepSql: String =
    s"""WITH RECURSIVE ${shingleCte(distinct = false)},
      |${minhashSigCte("list_distinct(shs)")},
      |${bandKeyCte("bb")},
      |mp AS (
      |$MinhashPairSelect
      |),
      |$PostCte,
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

  /** The video-ingest loop: the documents arrive as three lake commits;
    * each lakeTail catch-up decodes ONLY the delta's frames, pairs them
    * within the delta and against the persisted frame-hash index (which
    * carries every earlier shard's hashes), appends them to the index and
    * runs `retain(index dir)`.  Returns the distinct staged pairs; scratch
    * paths are named `<tag>_lake` etc. */
  private def videoIngestPairs(s: SparkSession, dir: String, tag: String)(
      retain: String => Unit): DataFrame = {
    val lake = Tables.scratch(dir, s"${tag}_lake")
    val idx = Tables.scratch(dir, s"${tag}_idx")
    val ckp = Tables.scratch(dir, s"${tag}_ckp")
    val cand = Tables.scratch(dir, s"${tag}_cand")
    if (LayoutOps.latestVersion(s, lake) < 0) {
      val d = Tables.docs(s, dir).select(col("doc_id"), col("text"))
      (0 until 3).foreach { k =>
        LayoutOps.commitAppend(d.where(col("doc_id") % 3 === k), lake)
        LayoutOps.lakeTail(s, lake, ckp) { (delta, _) =>
          val fr = y4mFrameHashes(delta).persist()
          graft.core.CacheScope.register(fr)
          val seeded = new java.io.File(idx.stripPrefix("file:")).exists
          val pairs =
            if (!seeded) framePairsWithin(fr)
            else framePairsAcross(s.read.parquet(idx), fr)
              .unionByName(framePairsWithin(fr))
          pairs.write.mode("append").parquet(cand)
          fr.write.mode("append").parquet(idx)
          retain(idx)
        }
      }
    }
    s.read.parquet(cand).distinct()
  }

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
    s"""c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
      |  WHERE vec_id < greatest(8, ceil((SELECT count(*) FROM embeddings) / 64.0))),
      |s AS (
      |  SELECT e.vec_id, c.centroid_id,
      |    ${cosSql("e.embedding", "c.cv")} AS ccos
      |  FROM embeddings e CROSS JOIN c
      |),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
      |  FROM s
      |),
      |asg AS (SELECT vec_id, centroid_id AS cluster FROM r WHERE rn = 1),
      |p AS (
      |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
      |    ${cosSql("a.embedding", "b.embedding")} AS cos
      |  FROM embeddings a
      |  JOIN asg aa ON aa.vec_id = a.vec_id
      |  JOIN asg bb ON bb.cluster = aa.cluster AND bb.vec_id > a.vec_id
      |  JOIN embeddings b ON b.vec_id = bb.vec_id
      |)""".stripMargin

  /** Oracle CTE body (no `WITH`): the lowercased texts `d`, their k-char
    * gram positions `g`/`hx`, and `h(doc_id, nh, pos, hv)`, each gram's
    * 60-bit hash (`gm`, the gram text, too when `withGram`). */
  private[queries] def winnowGramCte(k: Int, withGram: Boolean): String =
    s"""d AS (SELECT doc_id, lower(text) AS t FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT doc_id, t, length(t) - $k + 1 AS nh FROM d WHERE length(t) >= $k),
      |hx AS (SELECT doc_id, nh, unnest(generate_series(1, nh)) AS i, t FROM g),
      |h AS (
      |  SELECT doc_id, nh, i - 1 AS pos,${if (withGram) s" substr(t, i, $k) AS gm," else ""}
      |         ('0x' || substr(md5(substr(t, i, $k)), 1, 15))::BIGINT AS hv
      |  FROM hx
      |)""".stripMargin

  /** Oracle CTE body over `h`: the winnow selection (w = 4) — each full
    * window's minimum by the composite key (hv, pos) in `sf`, the selected
    * positions in `sels(doc_id, pos)`; a document of at most 4 grams keeps
    * its single overall minimum. */
  private[queries] val WinnowSelCte =
    """sf AS (
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
      |)""".stripMargin

  /** Oracle CTE body over `sels`: the selected fingerprints `fps` and their
    * postings `p(doc_id, fp)`, capped at 100 documents per fingerprint. */
  private val FpPostCte =
    """fps AS (
      |  SELECT DISTINCT s.doc_id, h.hv AS fp
      |  FROM sels s JOIN h ON h.doc_id = s.doc_id AND h.pos = s.pos
      |),
      |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 100),
      |p AS (SELECT fps.* FROM fps JOIN rare USING (fp))""".stripMargin

  /** Winnow-selection CTE prefix (k=25, w=4): lowercased grams → selected
    * fingerprints → df-capped postings `p` — the front half of the
    * `dd_substr_pairs` oracle, shared by the span and incremental-winnow
    * oracles. */
  private[queries] val WinnowFpSql =
    s"""${winnowGramCte(25, withGram = true)},
      |$WinnowSelCte,
      |$FpPostCte""".stripMargin

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

  /** MinHash band chain (the dd_minhash_pairs oracle) — ends at
    * `mp(doc_a, doc_b)`, the id-ordered candidate pairs. */
  private val MinhashPairsSql =
    s"""$MinhashBandCte,
      |mp AS (
      |$MinhashPairSelect
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

  /** Hashed-TF postings CTE (dim 4096, the dsir bucket hash). */
  private val TfSql =
    s"""tok AS (
      |  SELECT doc_id,
      |    unnest(${toksSql("text")}) AS tok
      |  FROM documents),
      |tb AS (
      |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS bucket
      |  FROM tok),
      |p AS (SELECT doc_id, bucket, count(*)::BIGINT AS tf FROM tb GROUP BY 1, 2)""".stripMargin

  /** Exact n-gram-Jaccard ground-truth CTE over the shingle vocabulary the
    * minhash chain already built (`shg`) — ends at `truth(doc_a, doc_b)`.
    * Appended after [[MinhashPairsSql]]. */
  private val JaccardTruthSql =
    s"""$PostCte,
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

  /** SRP 4×4 band chain over embeddings (seed 42, dims 64) ending at
    * `cand(vec_a, vec_b)` — the dd_embed_banded banding, restricted by the
    * caller's predicate downstream. */
  private val EmbBandSql =
    s"""bs AS (SELECT unnest(generate_series(0, 3)) AS band),
      |b AS (
      |  SELECT e.vec_id, e.embedding, bs.band,
      |    ${srpKeySql("e.embedding", 4, "(bs.band * 4 + j)")} AS key
      |  FROM embeddings e CROSS JOIN bs),
      |cand AS (
      |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      |  FROM b x JOIN b y ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id)""".stripMargin

  /** The `dd_norm_exact` oracle, shared with the queries that wrap it. */
  private lazy val DdNormExactSql: String =
    """WITH n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(regexp_replace(
      |      translate(lower(coalesce(text, '')),
      |        'áàâäãåçéèêëíìîïñóòôöõúùûüýÿ', 'aaaaaaceeeeiiiinooooouuuuyy'),
      |      '[0-9]', '0', 'g'), '[^a-z0 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
      |  FROM documents)
      |SELECT doc_id FROM n
      |WHERE doc_id IN (SELECT min(doc_id) FROM n GROUP BY md5(nt))""".stripMargin

  /** Shared-string SQL: exact-dedup tier — content-hash groups with the
    * min-id keeper policy and copy counts.  Every function (md5, lower,
    * trim, min, count) and GROUP BY 1 are common to Spark SQL and DuckDB;
    * integer-only outputs, no float drift. */
  private val DdExactSqlShared =
    """SELECT md5(lower(trim(text))) AS content_hash,
      |       min(doc_id) AS keeper_id,
      |       CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents
      |GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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

    // Dedup postprocessing: connected components over MinHash LSH candidate
    // pairs — every doc in a pair labeled with the min reachable doc id
    "dd_clusters" -> ((s, dir) =>
      // candidates from the shared landed layout (Tables.minhashCands):
      // same (doc_a, doc_b) set as the inline kernel at (3, 16, 4)
      DedupOps.dedupClusters(Tables.minhashCands(s, dir))),

    // Exact-dedup keep-projection: lowest-id row per distinct text survives
    "dd_exact_keep" -> ((s, dir) =>
      DedupOps.exactDedup(docs(s, dir), col("text"), col("doc_id"))
        .select("doc_id", "source", "lang")),

    // SimHash blocking: candidate pairs sharing a signature byte
    "dd_simhash_pairs" -> ((s, dir) =>
      DedupOps.simhashCandidates(docs(s, dir), col("text"), col("doc_id"))),

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

    // Substring-overlap candidate pairs over the winnowing fingerprints —
    // scale-realistic parameters: 25-char grams (shared substrings >= 28
    // chars, boilerplate territory) and >= 2 shared fingerprints per pair,
    // thresholded inside the aggregate
    "dd_substr_pairs" -> ((s, dir) =>
      DedupOps.winnowPairsFrom(Tables.winnowPosAgg(s, dir), maxDocFreq = 100,
        minSharedFps = 2)),

    // End-to-end fuzzy dedup: MinHash candidates -> Jaccard confirm ->
    // clusters -> keeper projection (fuzzyDedup's stages, composed over
    // the landed candidate and pair-statistics layouts)
    "dd_fuzzy_keep" -> ((s, dir) =>
      DedupOps.removeClusterLosers(docs(s, dir), col("doc_id"),
        DedupOps.jaccardFromStats(Tables.minhashCands(s, dir)
          .join(Tables.ngramPairStats(s, dir), Seq("doc_a", "doc_b")),
          minJaccard = 0.5))
        .select("doc_id", "source", "lang")),

    // Incremental dedup: even-id documents are the already-indexed corpus
    // (band table persisted), odd-id documents the newly ingested shard;
    // candidates = full-corpus pairs touching at least one new doc
    "dd_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val indexed = d.where(col("doc_id") % 2 === 0)
      val shard = d.where(col("doc_id") % 2 === 1)
      val idx = Tables.scratch(dir, "mh_index")
      IndexBuilds.once(s"dd_incremental:$dir") {
        DedupOps.minhashIndexWrite(indexed, col("text"), col("doc_id"), idx)
      }
      DedupOps.minhashCandidatesAgainst(idx, shard, col("text"), col("doc_id"))
    }),

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
      val idx = Tables.scratch(dir, "wn_index")
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

    // Exact tier of the incremental-dedup ladder: even docs indexed, the
    // shard = odd docs + planted copies of even texts under new ids; the
    // Bloom prefilter sends only maybe-rows to the (broadcast-semi) join
    "dd_incremental_exact" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val idx = Tables.scratch(dir, "ex_index")
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

    // Quality-aware dedup: MinHash candidate clusters, keep the LONGEST
    // member of each cluster (n_chars arg-max, id tie-break)
    "dd_keep_longest" -> ((s, dir) =>
      graft.ops.DedupOps.keepBestInClusters(Tables.docs(s, dir),
        Tables.minhashCands(s, dir),
        col("doc_id"), col("n_chars"))
        .select("doc_id", "source", "lang")),

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

    // Cross-source duplication matrix over MinHash candidate pairs: which
    // source pairs mirror each other (provenance for mixture decisions)
    "dd_source_matrix" -> ((s, dir) =>
      DedupOps.crossSourceDupMatrix(Tables.minhashCands(s, dir),
        Tables.docs(s, dir), col("doc_id"), col("source"))),

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

    // Character-level Levenshtein confirm over the MinHash banding
    // candidates (800-char prefix cap bounds the quadratic kernel)
    "dd_edit_confirm" -> ((s, dir) =>
      DedupOps.editSimilarityPairs(Tables.docs(s, dir), col("text"),
        col("doc_id"), Tables.minhashCands(s, dir))),

    // Incremental semantic tier: even vectors persisted as an SRP-banded
    // index, odd vectors arrive as the new shard — only the shard is
    // hashed; == banded pairs on the union restricted to pairs touching
    // an odd vector
    "dd_incremental_embed" -> ((s, dir) => {
      val e = Tables.emb(s, dir)
      val idx = Tables.scratch(dir, "emb_index")
      IndexBuilds.once(s"dd_incremental_embed:$dir") {
        DedupOps.embIndexWrite(e.where(col("vec_id") % 2 === 0),
          col("embedding"), col("vec_id"), dims = 64, idx)
      }
      DedupOps.embCandidatesAgainst(idx, e.where(col("vec_id") % 2 === 1),
        col("embedding"), col("vec_id"), dims = 64, minCosine = 0.4)
    }),

    // Normalized-text exact dedup: first occurrence per CCNet-normalized
    // form — catches case/punctuation/accent variants the raw exact tier
    // misses; one digest-keyed shuffle
    "dd_norm_exact" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      DedupOps.exactDedup(
        d.select(col("doc_id"),
          TextOps.normalizeText(col("text")).as("norm_text")),
        col("norm_text"), col("doc_id"))
        .select("doc_id")
    }),

    // Nearest-duplicate distance histogram: per-vector best cosine among
    // its SRP-banded candidates IN THE NEAR-DUP-RELEVANT REGION
    // (cos >= 0.2), bucketed at 0.05 — the "how much near-dup mass is
    // there" gauge before choosing a semantic threshold.  The floor keeps
    // the confirmed-pair set bounded: an uncut histogram would
    // materialize EVERY banded collision (measured super-linear at 10x)
    "dd_nn_dist_hist" -> ((s, dir) => {
      // the landed 0.2-threshold pair table (Tables.embBandedPairs02):
      // both union legs scan the committed layout
      val pairs = Tables.embBandedPairs02(s, dir)
      val best = pairs.select(col("vec_a").as("v"), col("cos"))
        .unionByName(pairs.select(col("vec_b").as("v"), col("cos")))
        .groupBy("v").agg(max("cos").as("best_cos"))
      best.groupBy(floor(col("best_cos") * 20).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_vecs"))
    }),

    // The ladder in one table: corpus → quality gate → exact → normalized
    // exact → MinHash fuzzy, each tier's survivor count — the reduction
    // report a curation run publishes.  Each tier is the already-oracled
    // operator with its standard parameters.
    "dd_funnel_report" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      def one(stage: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(stage).as("stage"), col("n_docs"))
      val gate = TextOps.filterPipeline(d, col("text"), col("doc_id"),
        minTokens = 20L, maxTokens = 1000L, minQuality = 0.5,
        langs = Seq("en", "de", "es", "fr"))
      val normKept = DedupOps.exactDedup(
        d.select(col("doc_id"),
          TextOps.normalizeText(col("text")).as("nt")),
        col("nt"), col("doc_id"))
      one("corpus", d)
        .unionByName(one("gate", gate))
        .unionByName(one("exact",
          DedupOps.exactDedup(d, col("text"), col("doc_id"))))
        .unionByName(one("norm_exact", normKept))
        .unionByName(one("fuzzy",
          DedupOps.removeClusterLosers(d, col("doc_id"),
            DedupOps.jaccardFromStats(Tables.minhashCands(s, dir)
              .join(Tables.ngramPairStats(s, dir), Seq("doc_a", "doc_b")),
              minJaccard = 0.5))))
    }),

    // Do near-dup clusters stay within one language?  Cross-language
    // clusters flag template/boilerplate matches rather than true
    // duplicates — the cluster-quality gauge before a destructive dedup.
    // Rides the shared MinHash cluster machinery; the purity rollup runs
    // on the cluster table, not the corpus.
    "dd_cluster_purity" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val cl = DedupOps.dedupClusters(Tables.minhashCands(s, dir))
      val per = cl.join(d.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("keeper_id")
        .agg(count(lit(1)).as("sz"), countDistinct(col("lang")).as("n_langs"))
      per.agg(count(lit(1)).as("n_clusters"),
          sum("sz").as("n_docs_clustered"),
          sum(when(col("n_langs") === 1, 1L).otherwise(0L)).as("n_pure"))
        .select(col("n_clusters"), col("n_docs_clustered"), col("n_pure"),
          round(col("n_pure").cast("double") /
            col("n_clusters").cast("double"), 6).as("purity_rate"))
    }),

    // The 100 TB ingestion loop end-to-end: documents arrive as lake
    // commits; each lakeTail catch-up dedups ONLY the delta against the
    // persisted MinHash index (old corpus never re-hashed) and appends
    // the delta's bands.  The union of the staged candidate sets must
    // equal the FULL-corpus LSH pairs (every pair is found exactly when
    // its later shard arrives) — checked against the all-pairs oracle.
    "pipe_lake_dedup" -> ((s, dir) => {
      val lake = Tables.scratch(dir, "pld_lake")
      val idx = Tables.scratch(dir, "pld_idx")
      val ckp = Tables.scratch(dir, "pld_ckp")
      val cand = Tables.scratch(dir, "pld_cand")
      if (LayoutOps.latestVersion(s, lake) < 0) {
        val d = Tables.docs(s, dir).select(col("doc_id"), col("text"))
        (0 until 3).foreach { k =>
          LayoutOps.commitAppend(d.where(col("doc_id") % 3 === k), lake)
          LayoutOps.lakeTail(s, lake, ckp) { (delta, _) =>
            val seeded = new java.io.File(
              idx.stripPrefix("file:")).exists
            val pairs =
              if (!seeded) graft.ops.DedupOps.minhashCandidates(
                delta, col("text"), col("doc_id"))
              else graft.ops.DedupOps.minhashCandidatesAgainst(
                idx, delta, col("text"), col("doc_id"))
            pairs.write.mode("append").parquet(cand)
            if (!seeded) graft.ops.DedupOps.minhashIndexWrite(
              delta, col("text"), col("doc_id"), idx)
            else graft.ops.DedupOps.minhashIndexAppend(
              delta, col("text"), col("doc_id"), idx)
          }
        }
      }
      s.read.parquet(cand).distinct()
    }),

    "dd_exact_sql" -> ((s, dir) => {
      Tables.docs(s, dir).createOrReplaceTempView("documents")
      s.sql(DdExactSqlShared)
    }),

    "pipe_video_dedup" -> ((s, dir) => videoIngestPairs(s, dir, "pvd")(_ => ())),

    // the r19 video-ingest loop + the r20 INDEX RETENTION policy: each
    // catch-up appends the delta's frame hashes and then lets
    // PersistedIndex.maybeCompact rewrite the fragmented index (each
    // append lands up to shuffle-partitions part files; a year of
    // catch-ups otherwise leaves thousands) — and the staged pair union
    // must STILL equal the full-corpus oracle, proving compaction
    // changes layout only, never candidates
    "pipe_video_dedup_compact" -> ((s, dir) =>
      videoIngestPairs(s, dir, "pvdc") { idx =>
        // retention: maxFiles 8 forces a rewrite on every catch-up at the
        // 32-partition test shape — the compacted index is what the NEXT
        // catch-up joins against
        graft.ops.PersistedIndex.maybeCompact(s, idx, maxFiles = 8,
          targetFiles = 4)
      })
  )

  def oracles: Map[String, String] = Map(

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
      s"""WITH b AS (
        |  SELECT vec_id, embedding,
        |    ${srpKeySql("embedding", 8)} AS bucket
        |  FROM embeddings
        |),
        |s AS (
        |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
        |    ${cosSql("x.embedding", "y.embedding")} AS cos
        |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        |)
        |SELECT vec_a, vec_b, cos FROM s WHERE cos >= 0.4""".stripMargin,

    "dd_minhash_bands" ->
      s"""WITH ${shingleCte(distinct = true)},
        |${minhashSigCte("shs")},
        |b AS (SELECT doc_id, sg, unnest(generate_series(0, 3)) AS band FROM sig)
        |${bandKeySelect("b")}""".stripMargin,

    "dd_minhash_pairs" ->
      s"""WITH $MinhashBandCte
        |$MinhashPairSelect""".stripMargin,

    "dd_simhash" ->
      s"""WITH ${shingleCte(distinct = false)},
        |$ShingleHashCte
        |SELECT doc_id,
        |       $SimhashExpr AS simhash
        |FROM h""".stripMargin,

    "dd_embed_pairs" ->
      s"""WITH p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    ${cosSql("a.embedding", "b.embedding")} AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |)
        |SELECT * FROM p WHERE cos >= 0.4""".stripMargin,

    "dd_clusters" ->
      s"""WITH RECURSIVE $MinhashPairsSql,
        |e AS (SELECT doc_a AS a, doc_b AS bb FROM mp UNION ALL SELECT doc_b, doc_a FROM mp),
        |n AS (SELECT DISTINCT a AS node FROM e),
        |reach(node, r) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.bb
        |)
        |SELECT node AS doc_id, min(r) AS keeper_id FROM reach GROUP BY node""".stripMargin,

    "dd_exact_keep" -> DdExactKeepSql,

    "dd_simhash_pairs" ->
      s"""WITH $SimhashCte,
        |b AS (
        |  SELECT doc_id, band, (sh >> (15 * band)) & 32767 AS key
        |  FROM sg CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)
        |)
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |FROM b x JOIN b y
        |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id""".stripMargin,

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
      s"""WITH $SimhashCte,
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
      s"""WITH $MinhashBandCte
         |$MinhashPairSelect
         |WHERE x.doc_id % 2 = 1 OR y.doc_id % 2 = 1""".stripMargin,

    "dd_substr_pairs" ->
      s"""WITH ${winnowGramCte(25, withGram = false)},
        |$WinnowSelCte,
        |$FpPostCte
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
        |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // full pipeline mirror: bands -> candidates -> df-capped postings ->
    // Jaccard confirm on candidates -> recursive connected components ->
    // anti-join the non-keepers
    "dd_fuzzy_keep" -> DdFuzzyKeepSql,

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
      s"""WITH $MinhashBandCte
        |SELECT band, band_key, min(doc_id) AS owner_id
        |FROM bk GROUP BY band, band_key""".stripMargin,

    "dd_incremental_exact" ->
      """WITH idx AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
        |shard AS (
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id < 100
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1)
        |SELECT s.doc_id FROM shard s
        |WHERE md5(s.text) NOT IN (SELECT h FROM idx)""".stripMargin,

    "dd_embed_banded" ->
      s"""WITH $EmbBandSql,
        |s AS (
        |  SELECT c.vec_a, c.vec_b,
        |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
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

    "dd_soft_weights" ->
      s"""WITH RECURSIVE ${MinhashClusterSql},
         |sz AS (SELECT root, count(*)::BIGINT AS n FROM cl GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(sz.n, 1)::BIGINT AS dup_count,
         |  round(1.0 / coalesce(sz.n, 1), 6) AS weight
         |FROM documents d
         |LEFT JOIN cl ON cl.doc_id = d.doc_id
         |LEFT JOIN sz ON sz.root = cl.root""".stripMargin,

    "dd_minhash_recall" ->
      s"""WITH ${MinhashPairsSql},
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

    "dd_source_matrix" ->
      s"""WITH ${MinhashPairsSql},
         |p AS (
         |  SELECT da.source AS sa, db.source AS sb
         |  FROM mp
         |  JOIN documents da ON da.doc_id = mp.doc_a
         |  JOIN documents db ON db.doc_id = mp.doc_b
         |)
         |SELECT least(sa, sb) AS src_a, greatest(sa, sb) AS src_b,
         |  count(*) AS n_pairs
         |FROM p GROUP BY 1, 2""".stripMargin,

    "dd_containment_pairs" ->
      s"""${PostingsCte},
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

    "dd_edit_confirm" ->
      s"""WITH ${MinhashPairsSql},
         |tx AS (SELECT doc_id, substr(lower(coalesce(text, '')), 1, 800) AS t
         |  FROM documents)
         |SELECT mp.doc_a, mp.doc_b,
         |  levenshtein(a.t, b.t)::BIGINT AS edit_dist,
         |  round(1.0 - levenshtein(a.t, b.t)::DOUBLE /
         |    greatest(length(a.t), length(b.t), 1), 6) AS edit_sim
         |FROM mp
         |JOIN tx a ON mp.doc_a = a.doc_id
         |JOIN tx b ON mp.doc_b = b.doc_id""".stripMargin,

    "dd_incremental_embed" ->
      s"""WITH $EmbBandSql,
         |s AS (
         |  SELECT c.vec_a, c.vec_b,
         |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_a
         |  JOIN embeddings eb ON eb.vec_id = c.vec_b
         |  WHERE (c.vec_a % 2 = 1 OR c.vec_b % 2 = 1))
         |SELECT vec_a, vec_b, cos FROM s WHERE cos >= 0.4""".stripMargin,

    "dd_norm_exact" -> DdNormExactSql,

    "dd_nn_dist_hist" ->
      s"""WITH ${EmbBandSql},
         |sc AS (
         |  SELECT c.vec_a, c.vec_b,
         |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_a
         |  JOIN embeddings eb ON eb.vec_id = c.vec_b),
         |u AS (
         |  SELECT vec_a AS v, cos FROM sc
         |  UNION ALL SELECT vec_b, cos FROM sc),
         |f AS (SELECT * FROM u WHERE cos >= 0.2),
         |best AS (SELECT v, max(cos) AS best_cos FROM f GROUP BY v)
         |SELECT CAST(floor(best_cos * 20) AS BIGINT) AS bucket,
         |  count(*)::BIGINT AS n_vecs
         |FROM best GROUP BY 1""".stripMargin,

    // each tier's count wraps that tier's own oracle as a subquery — the
    // funnel is definitionally consistent with the per-tier queries
    "dd_funnel_report" -> {
      val gate = TextQueries.oracles("text_filter_pipeline")
      val exact = DdExactKeepSql
      val norm = DdNormExactSql
      val fuzzy = DdFuzzyKeepSql
      s"""SELECT 'corpus' AS stage, count(*)::BIGINT AS n_docs FROM documents
         |UNION ALL SELECT 'gate', count(*)::BIGINT FROM ($gate)
         |UNION ALL SELECT 'exact', count(*)::BIGINT FROM ($exact)
         |UNION ALL SELECT 'norm_exact', count(*)::BIGINT FROM ($norm)
         |UNION ALL SELECT 'fuzzy', count(*)::BIGINT FROM ($fuzzy)""".stripMargin
    },

    // reuses the shared MinHash + connected-components CTE (cl ends at
    // (doc_id, root)); purity is the same rollup over it
    "dd_cluster_purity" ->
      s"""WITH RECURSIVE ${MinhashClusterSql},
         |pl AS (SELECT cl.root, d.lang FROM cl
         |  JOIN documents d ON d.doc_id = cl.doc_id),
         |per AS (SELECT root, count(*)::BIGINT AS sz,
         |    count(DISTINCT lang)::BIGINT AS n_langs
         |  FROM pl GROUP BY 1)
         |SELECT count(*)::BIGINT AS n_clusters,
         |  sum(sz)::BIGINT AS n_docs_clustered,
         |  sum(CASE WHEN n_langs = 1 THEN 1 ELSE 0 END)::BIGINT AS n_pure,
         |  round(sum(CASE WHEN n_langs = 1 THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE, 6) AS purity_rate
         |FROM per""".stripMargin,

    // the full-corpus LSH pairs (same band construction as the
    // dd_minhash_* oracles) — the staged incremental union must equal it
    "pipe_lake_dedup" ->
      s"""WITH $MinhashBandCte
        |$MinhashPairSelect""".stripMargin,

    "dd_exact_sql" -> DdExactSqlShared,

    // the staged incremental union must equal the FULL-corpus
    // frame-dedup pairs — the same all-pairs SQL as mm_y4m_frame_dedup
    "pipe_video_dedup" -> y4mFramePairsSql("fd"),

    // compaction must be invisible to candidates: the same full-corpus
    // all-pairs SQL as pipe_video_dedup
    "pipe_video_dedup_compact" -> y4mFramePairsSql("pc")
  )
}
