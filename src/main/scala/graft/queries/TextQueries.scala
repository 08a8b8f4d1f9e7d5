package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Text curation: quality signals and gates, tokenizers (BPE, unigram),
  * language and source statistics, contamination and PII scrubbing,
  * preference pairs and vocabulary set algebra.  Names: `text`, `pii`,
  * `rlhf`, `set`.  [[toksSql]] is the one SQL mirror of the whitespace
  * tokenizer every text oracle uses. */
object TextQueries extends QuerySet {

  import Tables.docs
  import DedupQueries.{ParaSep, WinnowFpSql}
  import SimilarityQueries.OverlapTopkSql

  /** The `text_quality` oracle, shared with the queries that wrap it. */
  private lazy val TextQualitySql: String =
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
      |FROM f""".stripMargin

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

  /** Contamination-oracle CTE prefix: distinct word-5-gram hash postings
    * for the corpus and the probe (docs 0-4) — the `dd_jaccard` shingle
    * vocabulary, uncapped. */
  private val ContamSql =
    s"""toks AS (
      |  SELECT doc_id, ${toksSql("text")} AS t
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

  /** Shared DSIR model CTEs: hashed-unigram bucket counts for target
    * (src0) and raw (all), Laplace-smoothed fixed-point log-ratio table —
    * the exact float-op order of [[graft.ops.TextOps.dsirWeights]]. */
  private val DsirSql =
    s"""tok AS (
      |  SELECT doc_id, source,
      |    unnest(${toksSql("text")}) AS tok
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

  /** Tokenizer mirror: `list_filter(string_split_regex(lower(x),'\s+'),
    * t -> t <> '')` — the convention of every text oracle. */
  private[queries] def toksSql(x: String): String =
    s"""list_filter(string_split_regex(lower($x), '\\s+'), t -> t <> '')"""

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

  private def langVocabSql(lang: String): String =
    s"""SELECT DISTINCT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
       |FROM documents WHERE lang = '$lang'""".stripMargin

  private val unigramModels =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, Double)]]

  /** Shared-string SQL: a character-level quality gate — length window +
    * a minimum space share (20·spaces ≥ chars ⇔ mean word length ≤ 19),
    * the cheap "is this prose" filter.  Integer arithmetic only. */
  private val QualityGateSqlShared =
    """SELECT doc_id,
      |       CAST(length(text) AS BIGINT) AS n_chars_m,
      |       CAST(length(text) - length(replace(text, ' ', ''))
      |         AS BIGINT) AS n_spaces,
      |       CASE WHEN length(text) >= 100 AND length(text) <= 4000
      |             AND (length(text) - length(replace(text, ' ', ''))) * 20
      |                 >= length(text)
      |            THEN 1 ELSE 0 END AS keep
      |FROM documents""".stripMargin

  private val Cap = 128L // context window; every sf doc fits whole (max 99)

  private def tokenCounts(s: SparkSession, dir: String): DataFrame =
    Tables.docs(s, dir).select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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

    // C4/Gopher-style quality gate: one projection, pushdown-able predicates
    "text_filter_pipeline" -> ((s, dir) =>
      TextOps.filterPipeline(docs(s, dir), col("text"), col("doc_id"),
        minTokens = 20L, maxTokens = 1000L, minQuality = 0.5,
        langs = Seq("en", "de", "es", "fr"))),

    // Corpus vocabulary: top-100 tokens by frequency (tokenizer-training /
    // coverage-audit pass)
    "text_vocab_topk" -> ((s, dir) =>
      TextOps.vocabTopK(docs(s, dir), col("text"), k = 100)),

    // Winnowing (MOSS) substring fingerprints: any shared substring of
    // length >= w + k - 1 = 11 chars yields a shared fingerprint
    "text_winnow" -> ((s, dir) =>
      DedupOps.winnowFingerprints(docs(s, dir), col("text"), col("doc_id"),
        k = 8, w = 4)),

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
          md5(concat_ws(" ", col("tokens"))).as("tok_hash"))),

    // PII scan: per-document email / IPv4 / phone match counts over the
    // planted corpus — pure codegen'd regexp columns, no shuffle
    "text_pii_scan" -> ((s, dir) =>
      PiiOps.scan(piiDocs(s, dir), col("ptext"), col("doc_id"))),

    // PII redaction: sentinel replacement in detector order; output is the
    // doc-specific cleaned text (hash-compared verbatim)
    "text_pii_redact" -> ((s, dir) =>
      PiiOps.redact(piiDocs(s, dir), col("ptext"), col("doc_id"))),

    // Exact heavy hitters via per-partition Misra-Gries + candidate-only
    // exact confirm: tokens with frequency >= 3% of the corpus
    "text_heavy_hitters" -> ((s, dir) =>
      graft.ops.TextOps.heavyHitters(Tables.docs(s, dir), col("text"),
        phi = 0.03)),

    // Context-window chunking: 16-token windows, 4-token overlap — the
    // RAG/pretraining chunker as a pure narrow plan
    "text_chunks" -> ((s, dir) =>
      graft.ops.TextOps.chunkDocs(Tables.docs(s, dir), col("text"),
        col("doc_id"), chunkTokens = 16, overlap = 4)),

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
      val idx = Tables.scratch(dir, "dsir_model")
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

    // Boilerplate-segment removal: segments (the " table " convention of
    // the dd_para_* queries) present in > 2 distinct documents are cut
    // from EVERY document, first occurrence included
    "text_boilerplate" -> ((s, dir) =>
      DedupOps.boilerplateRemove(Tables.docs(s, dir), col("text"),
        col("doc_id"), sepRegex = " table ", joinSep = " ", maxDocs = 2)),

    // Trigram Stupid-Backoff fluency vs the src0 reference corpus
    "text_sbo_lm" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      TextOps.sboScore(d, col("text"), col("doc_id"),
        d.where(col("source") === "src0"), col("text"))
    }),

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

    // Gopher word-n-gram repetition fractions (top 2/3/4-gram char mass,
    // duplicated 5/10-gram char mass) — per-row folds, no gram shuffle
    "text_rep_ngrams" -> ((s, dir) =>
      TextOps.ngramRepetition(Tables.docs(s, dir), col("text"),
        col("doc_id"))),

    // Per-source doc-length quantiles: one-pass sketch cross-checked
    // against the exact rank quantile (invariant oracle: exact + true)
    "text_len_quantiles" -> ((s, dir) =>
      TextOps.lengthQuantiles(Tables.docs(s, dir), col("source"),
        col("n_chars"))),

    // Flesch reading-ease card: words / sentences / vowel-group syllables
    // and the classic score — codegen'd regexp counts, no shuffle
    "text_readability" -> ((s, dir) =>
      TextOps.readability(Tables.docs(s, dir), col("text"), col("doc_id"))),

    // Corpus-drift monitor: JS divergence between the en and de token
    // mixes over 4096 hashed buckets — O(buckets) state, two narrow scans
    "text_js_divergence" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      TextOps.jsDivergence(d.where(col("lang") === "en"), col("text"),
        d.where(col("lang") === "de"), col("text"))
    }),

    // Set ops (§2.7 "no set operations beyond ordered union"): the token
    // vocabulary shared by the en and de corpora...
    "set_vocab_intersect" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      def toks(lang: String) = d.where(col("lang") === lang)
        .select(explode(TextOps.tokens(col("text"))).as("tok")).distinct()
      toks("en").intersect(toks("de"))
    }),

    // ...and the corpus diff (EXCEPT): content digests present in the
    // src0-2 slice but nowhere else — "what is new in this delivery"
    "set_digest_except" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val srcs = Seq("src0", "src1", "src2")
      d.where(col("source").isin(srcs: _*))
        .select(md5(col("text")).as("digest")).distinct()
        .except(d.where(!col("source").isin(srcs: _*))
          .select(md5(col("text")).as("digest")))
    }),

    // Language-ID confusion matrix: true lang × predicted lang counts —
    // the classifier-evaluation report over the langId op
    "text_langid_acc" -> ((s, dir) =>
      Tables.docs(s, dir)
        .select(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))),

    // Mergeable-sketch distinct tokens: per-source Datasketches HLL
    // sketches unioned into ONE corpus estimate — the re-aggregatable
    // form a 1000-partition corpus needs (sketches merge, exact distincts
    // do not).  Invariant oracle: exact count + estimate-within-5%
    "text_hll_union" -> ((s, dir) => {
      val toks = Tables.docs(s, dir).select(col("source"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      val sk = toks.groupBy("source").agg(hll_sketch_agg(col("tok")).as("sk"))
      val est = sk.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = toks.agg(countDistinct(col("tok")).as("n_exact"))
      est.crossJoin(exact)
        .select(col("n_exact"),
          (abs(col("est") - col("n_exact")).cast("double") /
            col("n_exact") <= 0.05).as("within_bound"))
    }),

    // One-vs-rest JS drift per source: the mixture-health dashboard —
    // one corpus shuffle, |sources|×buckets model state
    "text_source_drift" -> ((s, dir) =>
      TextOps.jsDriftByGroup(Tables.docs(s, dir), col("text"),
        col("source"))),

    // Threshold-free gating: each doc's exact length percentile via the
    // range-partitioned Ranker (no single-partition window)
    "text_len_pctile" -> ((s, dir) =>
      TextOps.percentileRank(Tables.docs(s, dir), col("n_chars"),
        col("doc_id"))),

    // word2vec-style frequent-token subsampling: per-position keep draw
    // against min(1, sqrt(t/f)) — stop-word mass shrinks deterministically
    "text_token_downsample" -> ((s, dir) =>
      TextOps.downsampleFrequentTokens(Tables.docs(s, dir), col("text"),
        col("doc_id"))),

    // MAD gate on doc lengths: |v - median| > 3 * MAD — the 50%-breakdown
    // robust filter; both medians rank-exact via the Ranker
    "text_mad_gate" -> ((s, dir) =>
      TextOps.madGate(Tables.docs(s, dir), col("n_chars"), col("doc_id"))),

    // Preference pairs: per source, the best-quality doc as "chosen" and
    // the worst as "rejected" (quality ties break to the smaller id) —
    // the DPO/RLHF-style pair-prep shape, two min_by/max_by aggregates
    "rlhf_pairs" -> ((s, dir) => {
      val q = TextOps.qualityFeatures(Tables.docs(s, dir), col("text"),
        col("doc_id")).select(col("doc_id"), col("quality"))
      val d = Tables.docs(s, dir).select(col("doc_id"), col("source"))
      // composite integer keys (6-dp quality scaled past the id range) so
      // the argmax/argmin are single-BIGINT — the form every engine's
      // arg_max accepts; ties break to the smaller id on both sides
      val q6 = round(col("quality") * 1e6).cast("long")
      d.join(q, "doc_id")
        .groupBy("source")
        .agg(
          max_by(col("doc_id"), q6 * 10000000000L - col("doc_id"))
            .as("chosen_id"),
          max(col("quality")).as("chosen_q"),
          min_by(col("doc_id"), q6 * 10000000000L + col("doc_id"))
            .as("rejected_id"),
          min(col("quality")).as("rejected_q"))
    }),

    // Tokenizer fertility: chars per (BPE-ish) token per language — the
    // "is this tokenizer efficient on this language" gauge
    "text_fertility" -> ((s, dir) =>
      Tables.docs(s, dir).groupBy("lang")
        .agg(sum("n_chars").as("chars"),
          sum(coalesce(TextOps.bpeishCount(col("text")).cast("long"),
            lit(0L))).as("bpe_tokens"))
        .select(col("lang"), col("chars"), col("bpe_tokens"),
          round(col("chars").cast("double") / col("bpe_tokens"), 6)
            .as("chars_per_token"))),

    // Head coverage: what fraction of the corpus trigram mass the top-100
    // trigrams carry — the Zipf-head gauge behind boilerplate suspicion
    // (high coverage = heavily templated corpus)
    "text_ngram_coverage" -> ((s, dir) => {
      val g = Tables.docs(s, dir)
        .select(explode(graft.functions.NgramStrings.ngramStrings(
          col("text"), 3)).as("g"))
      val counts = g.groupBy("g").agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum("cnt").as("total_grams"),
        count(lit(1)).as("distinct_grams"))
      val top = counts.orderBy(col("cnt").desc, col("g")).limit(100)
        .agg(sum("cnt").as("top100_mass"))
      tot.crossJoin(top)
        .select(col("total_grams"), col("distinct_grams"),
          col("top100_mass"),
          round(col("top100_mass").cast("double") / col("total_grams"), 6)
            .as("coverage"))
    }),

    // Per-doc character-distribution entropy (nats): collapsed entropy =
    // repeated-char junk / binary-ish payloads — the gibberish detector.
    // Exact integer char counts; per-(doc, char) terms nano-floored
    // BEFORE the per-doc sum, so the entropy is summation-order-immune.
    "text_char_entropy" -> ((s, dir) => {
      val ch = Tables.docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
        .where(col("c") =!= "")
      val counts = ch.groupBy("doc_id", "c").agg(count(lit(1)).as("k"))
      val tot = counts.groupBy("doc_id").agg(sum("k").as("n"))
      val p = col("k").cast("double") / col("n")
      counts.join(tot, "doc_id")
        .select(col("doc_id"), col("n"),
          floor(-p * log(p) * 1e9).cast("long").as("t9"))
        .groupBy("doc_id")
        .agg(max("n").as("n_chars"),
          round(sum("t9").cast("double") / 1e9, 6).as("entropy"))
    }),

    // BM25 top-10 against a 3-term query — the lexical retriever behind
    // hard-negative mining; per-doc scores in nano fixed point.
    "text_bm25_topk" -> ((s, dir) =>
      TextOps.bm25TopK(Tables.docs(s, dir), col("doc_id"), col("text"),
        terms = Seq("join", "vector", "window"), k = 10)),

    // Tokenizer-budget sizing: smallest frequency-ranked vocab covering
    // 50/90/95/99 % of corpus token mass (range-partitioned rank + exact
    // two-phase cumsum — no single-partition window).
    "text_vocab_coverage" -> ((s, dir) =>
      TextOps.vocabCoverage(Tables.docs(s, dir), col("text"),
        targets = Seq(0.5, 0.9, 0.95, 0.99))),

    // Charset profile per source: letter/digit/space/other fractions —
    // the mojibake / table-dump detector.
    "text_script_profile" -> ((s, dir) =>
      TextOps.scriptProfile(Tables.docs(s, dir), col("text"), col("source"))),

    // What vocabulary distinguishes src0 from the rest of the corpus —
    // top-20 tokens by 2×2 χ² keyness.
    "text_keyness" -> ((s, dir) =>
      TextOps.keyness(Tables.docs(s, dir), col("text"),
        col("source") === "src0", k = 20)),

    // Governance audits over quasi-identifiers: k-anonymity class sizes
    // and l-diversity of a sensitive attribute — one aggregation each.
    "pii_k_anon" -> ((s, dir) =>
      graft.ops.PiiOps.kAnonymityAudit(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq(col("c_mktsegment"), col("c_nationkey")), k = 5)),

    "pii_l_diversity" -> ((s, dir) =>
      graft.ops.PiiOps.lDiversityAudit(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq(col("c_mktsegment"), col("c_nationkey")),
        floor(col("c_acctbal") / 1000).cast("long"), l = 8)),

    // Per-source cap — the "<= N pages per domain" mixture-control step:
    // each source keeps its 10 highest-quality docs (quality = length
    // here; ties by id), replayed exactly by the window oracle.
    "text_source_cap" -> ((s, dir) =>
      TextOps.perSourceCap(Tables.docs(s, dir), col("source"),
        col("doc_id"), col("n_chars").cast("long"), maxPerSource = 10)),

    // Unigram-LM (SentencePiece-style) tokenization: the Viterbi model
    // itself is spec-proven (R15UnigramSpec: EM learning, local ==
    // distributed, determinism); the oracle gates the tokenizer's
    // LOSSLESS round trip hash-exactly — concat(pieces) must rebuild
    // the normalized text of every document.
    "text_unigram_tokens" -> ((s, dir) => {
      val vocab = unigramModels.getOrElseUpdate(dir,
        TextOps.unigramTrain(Tables.docs(s, dir), col("text"),
          vocabSize = 2000, maxPieceLen = 6, emIters = 2))
      TextOps.unigramTokens(Tables.docs(s, dir), col("text"),
        col("doc_id"), vocab, maxPieceLen = 6)
        .select(col("doc_id"),
          md5(concat_ws("", col("tokens"))).as("tok_hash"))
    }),

    // Lexical top-10 by distinct-token overlap for 5 query docs — the
    // sparse half of hybrid retrieval; query tokens broadcast, corpus
    // never shuffles for the match.
    "text_overlap_topk" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      TextOps.tokenOverlapTopK(d, col("doc_id"), col("text"),
        d.where(col("doc_id") < 5), col("doc_id"), col("text"), k = 10)
    }),

    "text_quality_sql" -> ((s, dir) => {
      Tables.docs(s, dir).createOrReplaceTempView("documents")
      s.sql(QualityGateSqlShared)
    }),

    // shelf packing: closed-form size-class assignment, exactly replayed
    // by the oracle (class = cap//n, q docs of class q per bin)
    "text_pack_shelf" -> ((s, dir) =>
      TextOps.packBinsShelf(tokenCounts(s, dir), col("n_tokens"),
        col("doc_id"), Cap)),

    // FFD packing gauge: run true first-fit-decreasing in 8 groups, then
    // assert the packing invariants IN the result — every doc placed
    // exactly once, no bin over capacity, bins_used within [⌈total/cap⌉,
    // n_docs], and the first-fit half-empty property (≤ 1 bin per group
    // with fill ≤ cap/2).  The oracle replays the SQL-exact columns and
    // pins packing_ok to literal true.
    "text_pack_ffd" -> ((s, dir) => {
      val packed = TextOps.packBinsFfd(tokenCounts(s, dir), col("n_tokens"),
        col("doc_id"), Cap, numGroups = 8)
      val bins = packed.groupBy("grp", "bin_in_group")
        .agg(sum("n_tokens").as("fill"))
      val halfPerGrp = bins.groupBy("grp")
        .agg(sum(when(col("fill") <= Cap / 2, 1L).otherwise(0L))
          .as("nhalf"))
      val docAgg = packed.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("doc_id")).as("n_distinct"),
        sum(col("n_tokens")).as("total_tokens"))
      val binAgg = bins.agg(count(lit(1)).as("bins_used"),
        max(col("fill")).as("max_fill"))
      val halfAgg = halfPerGrp.agg(max(col("nhalf")).as("max_half"))
      docAgg.crossJoin(binAgg).crossJoin(halfAgg)
        .select(col("n_docs"), col("total_tokens"),
          ceil(col("total_tokens").cast("double") / Cap).cast("long")
            .as("lb_bins"),
          (col("n_distinct") === col("n_docs") &&
            col("max_fill") <= Cap &&
            col("bins_used") >=
              ceil(col("total_tokens").cast("double") / Cap) &&
            col("bins_used") <= col("n_docs") &&
            col("max_half") <= 1L).as("packing_ok"))
    }),

    // curriculum schedule: length-as-difficulty, 8 equal-depth buckets,
    // round-robin interleave — closed-form integer arithmetic over one
    // global rank, exactly replayed by the oracle
    "text_curriculum" -> ((s, dir) =>
      SplitOps.curriculumOrder(Tables.docs(s, dir), col("n_chars"),
        col("doc_id"), nBuckets = 8)),

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
    })
  )

  def oracles: Map[String, String] = Map(

    "text_tokens" ->
      s"""SELECT doc_id,
        |  len(${toksSql("text")}) AS n_ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpeish
        |FROM documents""".stripMargin,

    "text_quality" -> TextQualitySql,

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

    "text_filter_pipeline" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
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
        |)
        |SELECT doc_id, lang_pred, n_tokens, quality FROM q
        |WHERE n_tokens >= 20 AND n_tokens <= 1000 AND quality >= 0.5
        |  AND lang_pred IN ('en', 'de', 'es', 'fr')""".stripMargin,

    "text_vocab_topk" ->
      s"""WITH toks AS (
        |  SELECT ${toksSql("text")} AS t
        |  FROM documents
        |),
        |c AS (SELECT unnest(t) AS token FROM toks),
        |g AS (SELECT token, count(*) AS cnt FROM c GROUP BY token),
        |r AS (
        |  SELECT token, cnt,
        |         row_number() OVER (ORDER BY cnt DESC, token) - 1 AS rank
        |  FROM g
        |)
        |SELECT token, cnt, rank FROM r WHERE rank < 100""".stripMargin,

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
         |FROM fin GROUP BY doc_id""".stripMargin,

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

    "text_heavy_hitters" ->
      s"""WITH tok AS (
        |  SELECT unnest(${toksSql("text")}) AS tok
        |  FROM documents),
        |tot AS (SELECT count(*)::DOUBLE AS n FROM tok)
        |SELECT tok, count(*)::BIGINT AS cnt
        |FROM tok GROUP BY tok
        |HAVING count(*) >= (SELECT ceil(0.03 * n) FROM tot)""".stripMargin,

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

    "text_approx_distinct" ->
      s"""WITH tok AS (
        |  SELECT source,
        |    unnest(${toksSql("text")}) AS tok
        |  FROM documents)
        |SELECT source, count(DISTINCT tok)::BIGINT AS n_exact,
        |  true AS within_bound
        |FROM tok GROUP BY source""".stripMargin,

    "text_tfidf" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(${toksSql("text")}) AS tok
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
      s"""WITH b AS (
        |  SELECT count(*)::BIGINT AS n_docs,
        |    coalesce(sum(len(${toksSql("text")})), 0)::BIGINT AS n_tokens,
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

    "text_dsir_weights" ->
      s"""WITH $DsirSql
         |SELECT doc_id, n_tokens, log_w FROM w""".stripMargin,

    "text_dsir_select" ->
      s"""WITH $DsirSql
         |SELECT doc_id, n_tokens, log_w FROM w
         |ORDER BY log_w DESC, doc_id LIMIT 500""".stripMargin,

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

    "text_boilerplate" ->
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
        |),
        |hot AS (
        |  SELECT para_hash FROM p GROUP BY para_hash
        |  HAVING count(DISTINCT doc_id) > 2
        |),
        |kept AS (SELECT p.* FROM p ANTI JOIN hot USING (para_hash)),
        |rebuilt AS (
        |  SELECT doc_id,
        |    string_agg(para, ' ' ORDER BY para_idx) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |removed AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_removed
        |  FROM p SEMI JOIN hot USING (para_hash) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(r.clean_text, '') AS clean_text,
        |  coalesce(rm.n_removed, 0)::BIGINT AS n_removed
        |FROM documents d
        |LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
        |LEFT JOIN removed rm ON rm.doc_id = d.doc_id""".stripMargin,

    "text_sbo_lm" ->
      s"""WITH tok AS (
        |  SELECT doc_id, source,
        |    ${toksSql("text")} AS t
        |  FROM documents
        |),
        |rtok AS (SELECT t FROM tok WHERE source = 'src0'),
        |rtg AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
        |  FROM (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM rtok WHERE len(t) >= 3)),
        |rbg AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM rtok WHERE len(t) >= 2)),
        |runi AS (SELECT unnest(t) AS w FROM rtok),
        |c123 AS (SELECT w1, w2, w3, count(*)::BIGINT AS c123 FROM rtg GROUP BY 1, 2, 3),
        |c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM rbg GROUP BY 1, 2),
        |c23 AS (SELECT w1 AS w2, w2 AS w3, count(*)::BIGINT AS c23 FROM rbg GROUP BY 1, 2),
        |c2 AS (SELECT w AS w2, count(*)::BIGINT AS c2 FROM runi GROUP BY 1),
        |c3 AS (SELECT w AS w3, count(*)::BIGINT AS c3 FROM runi GROUP BY 1),
        |nv AS (SELECT count(*)::DOUBLE AS n, count(DISTINCT w)::DOUBLE AS v FROM runi),
        |dtg AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM tok WHERE len(t) >= 3)),
        |sc AS (
        |  SELECT d.doc_id,
        |    round(ln(
        |      CASE WHEN c123.c123 IS NOT NULL AND c12.c12 IS NOT NULL
        |           THEN c123.c123::DOUBLE / c12.c12
        |           WHEN c23.c23 IS NOT NULL AND c2.c2 IS NOT NULL
        |           THEN 0.4 * c23.c23::DOUBLE / c2.c2
        |           ELSE 0.16 * (coalesce(c3.c3, 0) + 1)::DOUBLE / (nv.n + nv.v)
        |      END) * 1000000.0, 0)::BIGINT AS lp6
        |  FROM dtg d
        |  LEFT JOIN c123 ON c123.w1 = d.w1 AND c123.w2 = d.w2 AND c123.w3 = d.w3
        |  LEFT JOIN c12 ON c12.w1 = d.w1 AND c12.w2 = d.w2
        |  LEFT JOIN c23 ON c23.w2 = d.w2 AND c23.w3 = d.w3
        |  LEFT JOIN c2 ON c2.w2 = d.w2
        |  LEFT JOIN c3 ON c3.w3 = d.w3
        |  CROSS JOIN nv)
        |SELECT doc_id, count(*)::BIGINT AS n_trigrams,
        |  sum(lp6)::DOUBLE / (1000000.0 * count(*)) AS mean_lp
        |FROM sc GROUP BY doc_id""".stripMargin,

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

    "text_readability" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'), t -> t <> ''))::BIGINT AS n_words,
        |    greatest(1, len(regexp_extract_all(lower(coalesce(text, '')), '[.!?]+')))::BIGINT AS n_sentences,
        |    len(regexp_extract_all(lower(coalesce(text, '')), '[aeiouy]+'))::BIGINT AS n_syllables
        |  FROM documents
        |)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    round(206.835 - 1.015 * (n_words::DOUBLE / n_sentences) -
        |          84.6 * (n_syllables::DOUBLE / n_words), 6)
        |  END AS flesch
        |FROM f""".stripMargin,

    "text_js_divergence" ->
      s"""WITH ta AS (SELECT unnest(${toksSql("text")}) AS tok
        |  FROM documents WHERE lang = 'en'),
        |tb AS (SELECT unnest(${toksSql("text")}) AS tok
        |  FROM documents WHERE lang = 'de'),
        |ca AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS b,
        |  count(*)::BIGINT AS c FROM ta GROUP BY 1),
        |cb AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS b,
        |  count(*)::BIGINT AS c FROM tb GROUP BY 1),
        |j AS (SELECT coalesce(ca.b, cb.b) AS b, coalesce(ca.c, 0) AS ca,
        |  coalesce(cb.c, 0) AS cb FROM ca FULL JOIN cb ON ca.b = cb.b),
        |t AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM j),
        |x AS (SELECT CAST(floor((
        |    CASE WHEN ca > 0 THEN 0.5 * (ca::DOUBLE / na) *
        |      ln((ca::DOUBLE / na) / (((ca::DOUBLE / na) + (cb::DOUBLE / nb)) / 2))
        |    ELSE 0.0 END +
        |    CASE WHEN cb > 0 THEN 0.5 * (cb::DOUBLE / nb) *
        |      ln((cb::DOUBLE / nb) / (((ca::DOUBLE / na) + (cb::DOUBLE / nb)) / 2))
        |    ELSE 0.0 END) * 1e9) AS BIGINT) AS t9, na, nb
        |  FROM j CROSS JOIN t)
        |SELECT round(sum(t9)::DOUBLE / 1e9, 6) AS js_nats,
        |  count(*)::BIGINT AS n_buckets,
        |  max(na) AS tokens_a, max(nb) AS tokens_b
        |FROM x""".stripMargin,

    "set_vocab_intersect" ->
      s"""${langVocabSql("en")}
         |INTERSECT
         |${langVocabSql("de")}""".stripMargin,

    "set_digest_except" ->
      """SELECT DISTINCT md5(text) AS digest FROM documents
        |WHERE source IN ('src0', 'src1', 'src2')
        |EXCEPT
        |SELECT md5(text) FROM documents
        |WHERE source NOT IN ('src0', 'src1', 'src2')""".stripMargin,

    "text_langid_acc" ->
      """WITH t AS (
        |  SELECT lang,
        |         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |sc AS (
        |  SELECT lang,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('el','los','las','una','que','por'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','les','des','est','dans','pour'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('the','and','of','is','to','in'))) AS s_en
        |  FROM t
        |)
        |SELECT lang,
        |  CASE WHEN s_de IS NULL THEN NULL
        |       WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
        |       WHEN s_es > s_en AND s_es > s_fr THEN 'es'
        |       WHEN s_fr > s_en THEN 'fr'
        |       ELSE 'en' END AS lang_pred,
        |  count(*)::BIGINT AS n
        |FROM sc GROUP BY 1, 2""".stripMargin,

    "text_hll_union" ->
      s"""WITH tok AS (
        |  SELECT unnest(${toksSql("text")}) AS tok
        |  FROM documents)
        |SELECT count(DISTINCT tok)::BIGINT AS n_exact, true AS within_bound
        |FROM tok""".stripMargin,

    "text_source_drift" ->
      s"""WITH tk AS (
        |  SELECT source AS g,
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS b
        |  FROM (SELECT source,
        |      unnest(${toksSql("text")}) AS tok
        |    FROM documents)),
        |tb AS (SELECT g, b, count(*)::BIGINT AS c FROM tk GROUP BY 1, 2),
        |bt AS (SELECT b, sum(c)::BIGINT AS tb FROM tb GROUP BY 1),
        |gt AS (SELECT g, sum(c)::BIGINT AS ng FROM tb GROUP BY 1),
        |nn AS (SELECT sum(ng)::BIGINT AS nn FROM gt),
        |spine AS (
        |  SELECT gt.g, gt.ng, nn.nn, bt.b, bt.tb, coalesce(tb.c, 0) AS c
        |  FROM gt CROSS JOIN nn CROSS JOIN bt
        |  LEFT JOIN tb ON tb.g = gt.g AND tb.b = bt.b),
        |x AS (
        |  SELECT g, ng, CAST(floor((
        |    CASE WHEN c > 0 THEN 0.5 * (c::DOUBLE / ng) *
        |      ln((c::DOUBLE / ng) /
        |         (((c::DOUBLE / ng) + ((tb - c)::DOUBLE / (nn - ng))) / 2))
        |    ELSE 0.0 END +
        |    CASE WHEN tb - c > 0 THEN 0.5 * ((tb - c)::DOUBLE / (nn - ng)) *
        |      ln(((tb - c)::DOUBLE / (nn - ng)) /
        |         (((c::DOUBLE / ng) + ((tb - c)::DOUBLE / (nn - ng))) / 2))
        |    ELSE 0.0 END) * 1e9) AS BIGINT) AS t9
        |  FROM spine)
        |SELECT g AS "group", max(ng) AS tokens,
        |  round(sum(t9)::DOUBLE / 1e9, 6) AS js_nats
        |FROM x GROUP BY g""".stripMargin,

    "text_len_pctile" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rn,
        |    count(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id, n_chars AS metric,
        |  round(rn::DOUBLE / greatest(1, n - 1), 6) AS pctile
        |FROM r""".stripMargin,

    "text_token_downsample" -> {
      val u = graft.core.Rng.Md5.uniformSql(17L, "tds",
        Seq("tk.doc_id", "tk.pos"))
      s"""WITH tk AS (
         |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
         |  FROM (SELECT doc_id, toks,
         |      unnest(generate_series(1, len(toks))) AS i
         |    FROM (SELECT doc_id,
         |        ${toksSql("text")} AS toks
         |      FROM documents))),
         |freq AS (SELECT tok, count(*)::BIGINT AS cnt FROM tk GROUP BY 1),
         |tot AS (SELECT sum(cnt)::BIGINT AS tot FROM freq),
         |p AS (SELECT tok,
         |    round(least(CAST(1.0 AS DOUBLE),
         |      sqrt(0.001 * tot::DOUBLE / cnt)), 6) AS p
         |  FROM freq CROSS JOIN tot),
         |kept AS (
         |  SELECT tk.doc_id FROM tk JOIN p USING (tok)
         |  WHERE $u < p.p),
         |a AS (SELECT doc_id, count(*)::BIGINT AS n_tokens FROM tk GROUP BY 1),
         |k AS (SELECT doc_id, count(*)::BIGINT AS n_kept FROM kept GROUP BY 1)
         |SELECT a.doc_id, a.n_tokens, coalesce(k.n_kept, 0)::BIGINT AS n_kept
         |FROM a LEFT JOIN k USING (doc_id)""".stripMargin
    },

    "text_mad_gate" ->
      """WITH m AS (SELECT doc_id, n_chars::BIGINT AS v FROM documents),
        |r1 AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) - 1 AS r,
        |    count(*) OVER () AS n FROM m),
        |med AS (SELECT v AS med FROM r1 WHERE r = (n - 1) // 2),
        |d AS (SELECT doc_id, abs(v - med) AS dev FROM m CROSS JOIN med),
        |r2 AS (SELECT dev, row_number() OVER (ORDER BY dev, doc_id) - 1 AS r,
        |    count(*) OVER () AS n FROM d),
        |mad AS (SELECT dev AS mad FROM r2 WHERE r = (n - 1) // 2)
        |SELECT m.doc_id, m.v, (abs(m.v - med) > 3 * mad) AS is_outlier
        |FROM m CROSS JOIN med CROSS JOIN mad""".stripMargin,

    "rlhf_pairs" -> {
      val quality = TextQualitySql
      s"""WITH q AS ($quality),
         |j AS (SELECT d.source, q.doc_id, q.quality
         |  FROM documents d JOIN q ON q.doc_id = d.doc_id)
         |SELECT source,
         |  arg_max(doc_id, CAST(round(quality * 1e6) AS BIGINT) * 10000000000 - doc_id) AS chosen_id,
         |  max(quality) AS chosen_q,
         |  arg_min(doc_id, CAST(round(quality * 1e6) AS BIGINT) * 10000000000 + doc_id) AS rejected_id,
         |  min(quality) AS rejected_q
         |FROM j GROUP BY source""".stripMargin
    },

    "text_fertility" ->
      """SELECT lang, sum(n_chars)::BIGINT AS chars,
        |  sum(coalesce(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')), 0))::BIGINT AS bpe_tokens,
        |  round(sum(n_chars)::DOUBLE /
        |    sum(coalesce(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')), 0)), 6)
        |    AS chars_per_token
        |FROM documents GROUP BY lang""".stripMargin,

    "text_ngram_coverage" ->
      s"""WITH toks AS (
        |  SELECT doc_id, ${toksSql("text")} AS t
        |  FROM documents),
        |g AS (
        |  SELECT unnest(CASE WHEN len(t) >= 3
        |    THEN list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM toks),
        |c AS (SELECT g, count(*)::BIGINT AS cnt FROM g GROUP BY g),
        |tot AS (SELECT sum(cnt)::BIGINT AS total_grams,
        |  count(*)::BIGINT AS distinct_grams FROM c),
        |top AS (SELECT sum(cnt)::BIGINT AS top100_mass FROM
        |  (SELECT cnt FROM c ORDER BY cnt DESC, g LIMIT 100))
        |SELECT total_grams, distinct_grams, top100_mass,
        |  round(top100_mass::DOUBLE / total_grams, 6) AS coverage
        |FROM tot CROSS JOIN top""".stripMargin,

    "text_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '')) AS c
        |  FROM documents),
        |f AS (SELECT doc_id, c FROM ch WHERE c <> ''),
        |k AS (SELECT doc_id, c, count(*)::BIGINT AS k FROM f GROUP BY 1, 2),
        |t AS (SELECT doc_id, sum(k)::BIGINT AS n FROM k GROUP BY 1),
        |x AS (
        |  SELECT k.doc_id, t.n,
        |    CAST(floor(-(k.k::DOUBLE / t.n) * ln(k.k::DOUBLE / t.n) * 1e9)
        |      AS BIGINT) AS t9
        |  FROM k JOIN t ON t.doc_id = k.doc_id)
        |SELECT doc_id, max(n)::BIGINT AS n_chars,
        |  round(sum(t9)::DOUBLE / 1e9, 6) AS entropy
        |FROM x GROUP BY doc_id""".stripMargin,

    // k1+1 is written (1.2 + 1.0), not 2.2: the Spark side computes the
    // constant by that addition and the two double literals differ in the
    // last ulp; idf is floored to 9 dp on both sides for the same reason
    "text_bm25_topk" ->
      s"""WITH base AS (SELECT doc_id,
        |    ${toksSql("text")} AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM base),
        |stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_dl FROM d),
        |hits AS (SELECT b.doc_id, d.dl, t.tok
        |  FROM base b JOIN d USING (doc_id), unnest(b.toks) AS t(tok)
        |  WHERE t.tok IN ('join', 'vector', 'window')),
        |tf AS (SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
        |  FROM hits GROUP BY 1, 2, 3),
        |df AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |c AS (SELECT tf.doc_id,
        |    floor((floor(ln((s.n_docs::DOUBLE - df.df::DOUBLE + 0.5)
        |        / (df.df::DOUBLE + 0.5) + 1.0) * 1000000000.0)::BIGINT::DOUBLE
        |        / 1000000000.0)
        |      * ((tf.tf::DOUBLE * (1.2 + 1.0))
        |        / (tf.tf::DOUBLE + 1.2 * (0.25
        |          + 0.75 * (tf.dl::DOUBLE
        |            / (s.total_dl::DOUBLE / s.n_docs::DOUBLE)))))
        |      * 1000000000.0)::BIGINT AS c
        |  FROM tf JOIN df USING (tok) CROSS JOIN stats s)
        |SELECT doc_id, round(sum(c)::DOUBLE / 1000000000.0, 6) AS score
        |FROM c GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "text_vocab_coverage" ->
      """WITH t AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, count(*)::BIGINT AS cnt FROM t GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rn
        |  FROM c),
        |cu AS (SELECT rn, sum(cnt) OVER (ORDER BY rn
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM r),
        |tot AS (SELECT sum(cnt)::BIGINT AS total FROM c)
        |SELECT p AS target, min(rn)::BIGINT AS vocab_size
        |FROM cu CROSS JOIN tot
        |CROSS JOIN (VALUES (0.5), (0.9), (0.95), (0.99)) v(p)
        |WHERE cum >= ceil(p * total)::BIGINT
        |GROUP BY 1""".stripMargin,

    "text_script_profile" ->
      """WITH b AS (SELECT source AS grp,
        |    length(text)::BIGINT AS total,
        |    (length(text) - length(regexp_replace(lower(text), '[a-z]', '', 'g')))
        |      ::BIGINT AS letters,
        |    (length(text) - length(regexp_replace(lower(text), '[0-9]', '', 'g')))
        |      ::BIGINT AS digits,
        |    (length(text) - length(regexp_replace(lower(text), '[ \t\n]', '', 'g')))
        |      ::BIGINT AS spaces
        |  FROM documents),
        |g AS (SELECT grp, sum(total)::BIGINT AS total,
        |    sum(letters)::BIGINT AS letters, sum(digits)::BIGINT AS digits,
        |    sum(spaces)::BIGINT AS spaces
        |  FROM b GROUP BY 1)
        |SELECT grp, total,
        |  round(letters::DOUBLE / total::DOUBLE, 6) AS letter_frac,
        |  round(digits::DOUBLE / total::DOUBLE, 6) AS digit_frac,
        |  round(spaces::DOUBLE / total::DOUBLE, 6) AS space_frac,
        |  round((total - letters - digits - spaces)::DOUBLE / total::DOUBLE, 6)
        |    AS other_frac
        |FROM g""".stripMargin,

    "text_keyness" ->
      """WITH toks AS (SELECT (source = 'src0') AS f,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT tok,
        |    sum(CASE WHEN f THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN f THEN 0 ELSE 1 END)::BIGINT AS b
        |  FROM toks GROUP BY 1),
        |t AS (SELECT sum(a)::BIGINT AS ta, sum(b)::BIGINT AS tb FROM c),
        |x AS (SELECT tok, a, b, ta - a AS cc, tb - b AS dd,
        |    a::HUGEINT * (tb - b) - b::HUGEINT * (ta - a) AS det,
        |    ta, tb
        |  FROM c CROSS JOIN t)
        |SELECT tok, a AS n_focus, b AS n_rest,
        |  round(((ta + tb)::HUGEINT * det * det)::DOUBLE
        |    / ((a + b)::HUGEINT * (cc + dd) * (a + cc) * (b + dd))::DOUBLE,
        |    6) AS chi2
        |FROM x
        |ORDER BY chi2 DESC, tok LIMIT 20""".stripMargin,

    "pii_k_anon" ->
      """SELECT c_mktsegment, c_nationkey,
        |  count(*)::BIGINT AS class_size,
        |  count(*) < 5 AS violates_k
        |FROM customer GROUP BY 1, 2""".stripMargin,

    "pii_l_diversity" ->
      """SELECT c_mktsegment, c_nationkey,
        |  count(*)::BIGINT AS class_size,
        |  count(DISTINCT floor(c_acctbal / 1000)::BIGINT)::BIGINT
        |    AS distinct_sensitive,
        |  count(DISTINCT floor(c_acctbal / 1000)::BIGINT) >= 8 AS diverse_l
        |FROM customer GROUP BY 1, 2""".stripMargin,

    "text_source_cap" ->
      """SELECT doc_id, source, n_chars::BIGINT AS quality,
        |  src_rank::INT AS src_rank
        |FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS src_rank
        |  FROM documents)
        |WHERE src_rank <= 10""".stripMargin,

    "text_unigram_tokens" ->
      """SELECT doc_id,
        |  md5(array_to_string(
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''), '')) AS tok_hash
        |FROM documents""".stripMargin,

    "text_overlap_topk" ->
      s"""$OverlapTopkSql
         |SELECT query_id, neighbor_id, overlap, rank
         |FROM lexr WHERE rank < 10""".stripMargin,

    "text_quality_sql" -> QualityGateSqlShared,

    "text_pack_shelf" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens, (128 // n_tokens)::BIGINT AS size_class
        |  FROM t),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY size_class ORDER BY doc_id) - 1 AS cr
        |  FROM c)
        |SELECT doc_id, n_tokens, size_class,
        |  (cr // size_class)::BIGINT AS bin_in_class,
        |  (cr % size_class)::BIGINT AS slot
        |FROM r""".stripMargin,

    "text_pack_ffd" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents)
        |SELECT count(*)::BIGINT AS n_docs,
        |  sum(n_tokens)::BIGINT AS total_tokens,
        |  ceil(sum(n_tokens)::DOUBLE / 128)::BIGINT AS lb_bins,
        |  true AS packing_ok
        |FROM t""".stripMargin,

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
        |FROM t GROUP BY lang""".stripMargin
  )
}
