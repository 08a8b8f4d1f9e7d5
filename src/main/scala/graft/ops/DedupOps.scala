package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape:
  *
  *  - exact: hash-groupBy — one shuffle on a 32-byte digest, no raw text
  *    movement.
  *  - n-gram Jaccard: shingle→inverted-index self-join.  The document-
  *    frequency cap is the skew guard: a shingle appearing in > maxDocFreq
  *    docs ("stop shingle") would create a quadratic join blow-up at scale
  *    and carries no dedup signal, so it is dropped BEFORE the join.
  *  - MinHash + LSH banding: per-row signatures (no shuffle), then one
  *    shuffle on (band, bandKey) buckets — candidate pairs only, never the
  *    full cross product.
  *  - SimHash: per-row 16-bit signature; near-dups share a signature (or a
  *    signature within Hamming distance via multi-probe, caller-side).
  *  - embedding cosine: exact pairwise within caller-chosen blocks; the
  *    scale path is [[SimilarityOps.lshBuckets]] first, cosine within
  *    buckets only.
  *
  * All hashing is md5-derived (deterministic, retry-safe, oracle-
  * reproducible); no rand().
  */
object DedupOps {

  private val Ws = java.util.regex.Pattern.compile("\\s+")
  private val Md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of an md5 digest as a positive long — the value of
    * `('0x' || substr(md5(s), 1, 15))::BIGINT`, extracted straight from the
    * digest bytes (building the 32-char hex string dominated the kernels'
    * CPU before). */
  private def key60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }

  /** First 8 hex chars of an md5 digest as an unsigned 32-bit long — the
    * SQL mirror is `('0x' || substr(md5(s), 1, 8))::BIGINT`. */
  private def key32(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 4) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }


  /** JVM mirror of the tokenize→k-shingle pipeline in [[TextOps]]
    * (split(lower, \s+) with empties removed; short docs yield one shingle =
    * the whole token string) — byte-identical inputs to the md5 hashes. */
  private[ops] def shinglesOf(text: String, k: Int): Array[String] = {
    val toks = Ws.split(text.toLowerCase(java.util.Locale.ROOT), -1)
      .filter(_.nonEmpty)
    if (toks.length >= k) {
      // one reused builder instead of slice+mkString per shingle — the
      // kernels hash millions of shingles and the allocations dominated
      val sb = new java.lang.StringBuilder(64)
      Array.tabulate(toks.length - k + 1) { i =>
        sb.setLength(0)
        var j = i
        while (j < i + k) {
          if (j > i) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        sb.toString
      }
    } else Array(toks.mkString(" "))
  }

  /** Modulus of the minhash value space: 2^60. */
  private val MinhashMod = 1L << 60

  /** MinHash signature kernel, Kirsch–Mitzenmacher double hashing: ONE md5
    * per distinct shingle yields h1 (first 60 bits) and h2 (next 56 bits),
    * and family j's hash is `(h1 + j*h2) mod 2^60` — a standard pairwise
    * construction (Kirsch & Mitzenmacher, ESA 2006) that replaces numHashes
    * digests per shingle with one.  No intermediate overflows signed 64-bit
    * (h1 + j*h2 < 2^60 + 16·2^56 < 2^63), so the oracle reproduces it
    * verbatim:
    * `(('0x'||substr(md5(s),1,15))::BIGINT
    *   + j * ('0x'||substr(md5(s),17,14))::BIGINT) % 1152921504606846976`.
    * A tight JVM loop instead of nested higher-order expressions: HOFs are
    * interpreted per element and were the dominant cost of the whole dedup
    * suite. */
  private def signatureOf(text: String, k: Int, numHashes: Int): Array[Long] = {
    require(numHashes <= 64, "numHashes > 64 would overflow h1 + j*h2")
    val uniq = shinglesOf(text, k).distinct
    val md = Md5Local.get()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < uniq.length) {
      val d = md.digest(uniq(i).getBytes("UTF-8"))
      val h1 = key60(d)
      // hex chars 17..30 = bytes 8..14 (7 bytes, 56 bits)
      var h2 = 0L
      var b = 8
      while (b < 15) { h2 = (h2 << 8) | (d(b) & 0xffL); b += 1 }
      var j = 0
      while (j < numHashes) {
        val h = (h1 + j * h2) % MinhashMod
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    mins
  }

  /** Exact duplicate groups by content digest: (text_hash, keeper = min id,
    * dup_cnt).  Keep only `dup_cnt > 1` for the actual duplicates. */
  def exactGroups(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(md5(text).as("text_hash"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("dup_cnt"))

  /** Exact-dedup projection: keeps the lowest-id row per distinct text. */
  def exactDedup(df: DataFrame, text: Column, id: Column): DataFrame = {
    val keep = exactGroups(df, text, id).select(col("keeper_id"))
    df.join(keep, id === col("keeper_id"), "left_semi")
  }

  /** Documents exploded into normalized paragraphs: split on `sepRegex`,
    * trimmed, empties dropped; `para_idx` indexes the surviving paragraphs
    * 0..m-1 in document order.  Output: (doc_id, para_idx, para_hash, para).
    * A narrow map (no shuffle) — the paragraph stream is the input to the
    * corpus-wide grouping of [[paragraphExact]]. */
  def paragraphs(df: DataFrame, text: Column, id: Column,
      sepRegex: String = "\\n{2,}"): DataFrame =
    parallelized(df)
      .select(id.as("doc_id"),
        posexplode(filter(transform(split(text, sepRegex), p => trim(p)),
          p => p =!= "")))
      .select(col("doc_id"), col("pos").cast("long").as("para_idx"),
        md5(col("col")).as("para_hash"), col("col").as("para"))

  /** Paragraph-level exact dedup — the span tier of corpus curation (the
    * "Deduplicating Training Data Makes Language Models Better" recipe,
    * Lee et al. 2022: repeated spans are removed ACROSS documents, not just
    * whole-document dups).  Every paragraph instance is labeled with its
    * corpus-wide group: `is_keeper` marks the (doc_id, para_idx)-first
    * occurrence of each distinct normalized paragraph, `dup_cnt` the group
    * size.  Output: (doc_id, para_idx, para_hash, is_keeper, dup_cnt).
    *
    * Physical shape: one shuffle keyed on the 32-char digest (both window
    * functions share the single partition spec — never the raw text), same
    * as [[exactGroups]]; the paragraph explode itself is a narrow map.  At
    * 100 TB the digest table is ~40 bytes × paragraphs — the shuffle payload
    * is independent of document size. */
  def paragraphExact(df: DataFrame, text: Column, id: Column,
      sepRegex: String = "\\n{2,}"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("para_hash").orderBy("doc_id", "para_idx")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("para_hash")
    paragraphs(df, text, id, sepRegex)
      .withColumn("is_keeper", row_number().over(w) === 1)
      .withColumn("dup_cnt", count(lit(1)).over(wAll))
      .drop("para")
  }

  /** Rebuild each document's text with every non-keeper paragraph removed
    * (corpus-wide first occurrence survives), paragraphs re-joined with
    * `joinSep`.  Documents whose paragraphs are ALL duplicates come out as
    * the empty string — the caller decides whether to drop them.  One
    * digest-keyed shuffle (the keeper window) + one groupBy doc_id. */
  def paragraphDedupedText(df: DataFrame, text: Column, id: Column,
      sepRegex: String = "\\n{2,}", joinSep: String = "\n"): DataFrame = {
    // corpus-wide first occurrence per para_hash as a map-side-combined
    // min_by aggregate — the same (doc_id, para_idx)-min row the old
    // row_number window selected, without sorting every hash group
    val kept = paragraphs(df, text, id, sepRegex)
      .groupBy("para_hash")
      .agg(min_by(struct(col("doc_id"), col("para_idx"), col("para")),
        struct(col("doc_id"), col("para_idx"))).as("__m"))
      .select(col("__m.doc_id").as("doc_id"),
        col("__m.para_idx").as("para_idx"), col("__m.para").as("para"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("para_idx"), col("para")))),
          x => x("para")),
        joinSep).as("deduped_text"))
    // left join from the original ids: fully-duplicate documents stay, empty
    df.select(id.as("doc_id")).join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("deduped_text"), lit("")).as("deduped_text"))
  }

  /** Boilerplate-segment removal — the C4/CCNet LINE rule, as opposed to
    * [[paragraphDedupedText]]'s keep-first convention: a segment occurring
    * in MORE than `maxDocs` distinct documents is navigation/footer/cookie
    * boilerplate and is cut from EVERY document, first occurrence included
    * (no copy carries signal).  Segments at or under the threshold are
    * untouched, so near-unique prose never moves.
    *
    * Shape at 100 TB: the df count collapses map-side to segment-hash
    * cardinality; the hot set (true boilerplate) is tiny and broadcasts
    * into both the anti-join and the removed-count semi-join; the only
    * corpus-wide shuffle is the per-document rebuild groupBy.
    * Output: (doc_id, clean_text, n_removed) — one row per input document
    * (fully-boilerplate documents come out as ""). */
  def boilerplateRemove(df: DataFrame, text: Column, id: Column,
      sepRegex: String = "\\n{2,}", joinSep: String = "\n",
      maxDocs: Long = 2): DataFrame = {
    val paras = graft.core.CacheScope.persist(
      paragraphs(df, text, id, sepRegex), eager = false)
    val hot = paras.groupBy("para_hash")
      .agg(count_distinct(col("doc_id")).as("__df"))
      .where(col("__df") > maxDocs)
      .select("para_hash")
    val rebuilt = paras.join(broadcast(hot), Seq("para_hash"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("para_idx"),
          col("para")))), x => x("para")),
        joinSep).as("clean_text"))
    val removed = paras.join(broadcast(hot), Seq("para_hash"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_removed"))
    df.select(id.as("doc_id")).join(rebuilt, Seq("doc_id"), "left")
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Ensure at least default parallelism under the per-row kernels.  A small
    * corpus arrives as one file = one partition, serializing the UDF.  The
    * partition probe (df.rdd) is only safe on plain scans: under AQE,
    * forcing the final plan of anything with an exchange EXECUTES the
    * upstream query stages just to read a partition count.  Non-scan inputs
    * are left untouched — they come out of a shuffle and are already at
    * shuffle parallelism. */
  private[ops] def parallelized(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def scanOnly(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case _: Project | _: Filter | _: SubqueryAlias => scanOnly(p.children.head)
      case _ => false
    }
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (scanOnly(df.queryExecution.optimizedPlan) &&
        df.rdd.getNumPartitions < par) df.repartition(par)
    else df
  }

  /** Distinct word-k-shingle keys per document (the inverted-index
    * postings), document-frequency-capped.  Keys are the first 60 bits of
    * md5(shingle) as a LONG (`('0x'||substr(md5(s),1,15))::BIGINT` in the
    * oracle) — numeric join/agg keys, no 32-char strings in the shuffles.
    *
    * Physical shape of the cap: one numeric groupBy for the per-shingle
    * document frequencies, of which only the HOT keys (df > cap) return to
    * the driver — a set bounded by n_postings/cap — and are broadcast into
    * an anti join.  The postings themselves are persisted once and never
    * shuffled for capping (the previous window-count formulation sorted the
    * full posting list by shingle). */
  /** Uncapped distinct shingle-hash postings (doc_id, sh), cached eager —
    * the shared front end of [[shinglePostings]] and the decontamination
    * operators (which must NOT df-cap: a benchmark passage duplicated
    * through the corpus is exactly what they exist to catch, and their
    * probe-side join is fan-out-bounded without a cap). */
  private def rawPostings(df: DataFrame, text: Column, id: Column,
      k: Int): DataFrame = {
    val hashes = udf { (t: String) =>
      if (t == null) null
      else {
        val md = Md5Local.get()
        // distinct AFTER hashing too: matches the oracle's DISTINCT over
        // keys should two shingles ever collide in the 60-bit space
        shinglesOf(t, k).distinct
          .map(s => key60(md.digest(s.getBytes("UTF-8")))).distinct
      }
    }
    // eager: several downstream branches (df counts, sizes, both self-join
    // sides) consume the postings, and AQE submits independent stages
    // CONCURRENTLY — against a lazy cache they race on the block locks
    // (observed: whole stages stalled at zero CPU waiting for the other
    // branch's cache fill)
    graft.core.CacheScope.persist(
      parallelized(df).select(id.as("doc_id"), explode(hashes(text)).as("sh")),
      eager = false)
  }

  def shinglePostings(df: DataFrame, text: Column, id: Column,
      k: Int = 3, maxDocFreq: Long = 100): DataFrame = {
    val post = rawPostings(df, text, id, k)
    val hot = post.groupBy("sh").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocFreq).select("sh")
    post.join(broadcast(hot), Seq("sh"), "left_anti")
  }

  /** N-gram NOVELTY score — the uniqueness/memorization-risk signal: per
    * document, the number of distinct word-`n`-grams, how many of them
    * appear NOWHERE else in the corpus (document frequency 1), and the
    * novel fraction.  Low novelty = templated/boilerplate content (its
    * n-grams are everywhere); novelty 1.0 = entirely unique text.
    * Integer aggregates with one final division — oracle-exact.
    *
    * Shape: the shared postings table ([[rawPostings]]) feeds a df count
    * (map-side combined on the 60-bit key) joined back to itself — two
    * hash aggs and one co-keyed join on `sh`, never the raw text. */
  def noveltyScore(df: DataFrame, text: Column, id: Column,
      n: Int = 5): DataFrame = {
    val p = rawPostings(df, text, id, n)
    val dfreq = p.groupBy("sh").agg(count(lit(1)).as("__df"))
    p.join(dfreq, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("__df") === 1, lit(1L)).otherwise(lit(0L)))
          .as("n_novel"))
      .select(col("doc_id"), col("n_ngrams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_ngrams").cast("double"))
          .as("novelty"))
  }

  /** Benchmark-contamination pairs (the n-gram decontamination check of
    * GPT-3 appx. C / Lee et al.: training documents sharing word n-grams
    * with an evaluation set): every (corpus doc, probe doc) pair sharing
    * at least `minShared` distinct word-`n`-grams, with the count.
    *
    * Neither side is df-capped — a benchmark passage boilerplated through
    * half the corpus is precisely what must be caught.  That is safe where
    * the self-join cap is not: the join fans out per corpus posting only
    * into the PROBE docs containing that n-gram, and the probe (an eval
    * suite) is orders of magnitude smaller than the corpus — its postings
    * are broadcast, so the corpus postings are scanned map-side and never
    * shuffled.  Standard n for real corpora is 13 (the GPT-3 convention);
    * pick n to taste for short documents. */
  def contaminationPairs(corpus: DataFrame, text: Column, id: Column,
      probe: DataFrame, ptext: Column, pid: Column,
      n: Int = 13, minShared: Long = 1): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val cp = rawPostings(corpus, text, id, n)
      .select(col("doc_id").cast("long").as("doc_id"), col("sh"))
    val pp = rawPostings(probe, ptext, pid, n)
      .select(col("doc_id").cast("long").as("probe_id"), col("sh"))
    cp.join(broadcast(pp), Seq("sh"))
      .groupBy("doc_id", "probe_id")
      .agg(count(lit(1)).as("shared_ngrams"))
      .where(col("shared_ngrams") >= minShared)
  }

  /** Decontamination projection: the corpus rows sharing NO word-`n`-gram
    * run of at least `minShared` with any probe document — the anti-join
    * that actually removes benchmark text from training data.  (A probe
    * document present in the corpus removes itself: it shares all its
    * n-grams.) */
  def decontaminate(corpus: DataFrame, text: Column, id: Column,
      probe: DataFrame, ptext: Column, pid: Column,
      n: Int = 13, minShared: Long = 1): DataFrame = {
    val bad = contaminationPairs(corpus, text, id, probe, ptext, pid, n,
      minShared)
      .select(col("doc_id").as("__contaminated_id")).distinct()
    corpus.join(bad, id.cast("long") === col("__contaminated_id"),
      "left_anti")
  }

  /** Sparse hashed-TF postings: (doc_id, bucket, tf) — token counts
    * hashed into `dim` buckets (the feature-hashing vectorizer), the
    * sparse text-side counterpart of a dense embedding.  Narrow explode +
    * one map-side-combined hash agg. */
  def hashedTf(df: DataFrame, text: Column, id: Column,
      dim: Int = 4096): DataFrame = {
    require(dim > 0, "dim must be positive")
    df.select(id.cast("long").as("doc_id"),
        explode(TextOps.tokens(text)).as("tok"))
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"),
          lit(dim)).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("tf"))
  }

  /** TF-COSINE confirmation — the count-weighted complement of the set-
    * overlap [[confirmJaccard]] (set overlap misses documents that share
    * vocabulary at very different repetition rates; weighted cosine
    * catches boilerplate variants): score CANDIDATE pairs (from a banding
    * tier, e.g. [[minhashCandidates]]) with
    * cos(a,b) = Σ tf_a·tf_b / (‖a‖·‖b‖) over the hashed-TF vectors and
    * keep those ≥ `minCosine`.
    *
    * Confirm-only by design: hashed buckets are DENSE (bucket doc-freq ≈
    * corpus/dim), so a buckets-postings self-join generates the corpus
    * cross product at any real size — candidates must come from a sparse-
    * key tier; the scoring join fans out |pairs| × vector sparsity.
    * All-integer until the final division: dot products and norms are
    * exact count sums, one rounded float at the end — oracle-exact under
    * any aggregation order. */
  def tfCosineConfirm(df: DataFrame, text: Column, id: Column,
      pairs: DataFrame, dim: Int = 4096,
      minCosine: Double = 0.5): DataFrame = {
    val p = graft.core.CacheScope.persist(hashedTf(df, text, id, dim),
      eager = false)
    val norms = p.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("n2"))
    val cand = pairs.select(col("doc_a").cast("long").as("doc_a"),
      col("doc_b").cast("long").as("doc_b"))
    val num = cand
      .join(p.select(col("doc_id").as("doc_a"), col("bucket"),
        col("tf").as("__ta")), Seq("doc_a"))
      .join(p.select(col("doc_id").as("doc_b"), col("bucket"),
        col("tf").as("__tb")), Seq("doc_b", "bucket"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("__ta") * col("__tb")).as("num"))
    num.join(norms.select(col("doc_id").as("doc_a"), col("n2").as("na")),
        Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("num").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
          6).as("cos"))
      .where(col("cos") >= minCosine)
  }

  /** Per-group contamination report: for each value of `groupCol` (a
    * source, a crawl snapshot, a shard), the document count, the number
    * contaminated (≥ `minShared` shared n-grams with the probe set) and
    * the contaminated fraction — the leakage dashboard a benchmark-
    * decontamination run signs off on.  Same bounded pair stage as
    * [[contaminationPairs]]; the report adds one left join of the
    * distinct contaminated-id set (duplicate-rate-sized) and a group agg
    * whose key space is the group cardinality. */
  def contaminationReport(corpus: DataFrame, text: Column, id: Column,
      groupCol: Column, probe: DataFrame, ptext: Column, pid: Column,
      n: Int = 13, minShared: Long = 1): DataFrame = {
    val bad = contaminationPairs(corpus, text, id, probe, ptext, pid, n,
      minShared)
      .select(col("doc_id").as("__cid")).distinct()
    corpus.select(id.cast("long").as("doc_id"), groupCol.as("grp"))
      .join(bad, col("doc_id") === col("__cid"), "left")
      .groupBy("grp")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__cid").isNotNull, lit(1L)).otherwise(lit(0L)))
          .as("n_contaminated"))
      .select(col("grp"), col("n_docs"), col("n_contaminated"),
        (col("n_contaminated").cast("double") / col("n_docs").cast("double"))
          .as("rate"))
  }

  /** Candidate near-dup pairs by n-gram Jaccard similarity >= `minJaccard`.
    * Output: (doc_a, doc_b, common, size_a, size_b, jaccard) with
    * doc_a < doc_b.
    *
    * Shape: ONE hash exchange of the (doc_id, shingle-key) postings,
    * partitioned by shingle and sorted (sh, doc_id) within partitions; a
    * streaming per-partition walk then consumes each shingle's run —
    * applying the document-frequency cap INLINE (runs longer than
    * `maxDocFreq` are skipped as they stream past, which is the skew guard:
    * a stop-shingle never expands) and emitting both the capped-size
    * contributions and the ordered in-run pairs (fan-out ≤ cap²/2 per
    * shingle, never the corpus cross product).  Both downstream aggregates
    * are codegen'd numeric hash aggs re-reading the same exchange — no
    * postings cache, no collect_list object aggregate (which falls back to
    * sort-based aggregation past 128 groups), no shuffle of raw text. */
  def ngramJaccardPairs(df: DataFrame, text: Column, id: Column,
      k: Int = 3, maxDocFreq: Long = 100,
      minJaccard: Double = 0.2): DataFrame =
    jaccardFromStats(ngramPairStats(df, text, id, k, maxDocFreq), minJaccard)

  /** Asymmetric near-dup pairs by the overlap (containment) coefficient
    * `|A∩B| / min(|A|,|B|)` over the same capped shingle postings as
    * [[ngramJaccardPairs]] — the measure that catches a SHORT document
    * embedded verbatim in a long one, where Jaccard stays small because
    * the union is dominated by the long side (Broder 1997's containment,
    * the quote/excerpt case every symmetric threshold misses). */
  def containmentPairs(df: DataFrame, text: Column, id: Column,
      k: Int = 3, maxDocFreq: Long = 100,
      minContainment: Double = 0.5): DataFrame =
    containmentFromStats(ngramPairStats(df, text, id, k, maxDocFreq),
      minContainment)

  /** Pair statistics → Jaccard: (doc_a, doc_b, common, size_a, size_b,
    * jaccard) for every pair of `stats` (the [[ngramPairStats]] shape)
    * with 6-dp Jaccard >= `minJaccard`.  The one definition of the
    * coefficient — [[ngramJaccardPairs]], [[confirmJaccard]] and callers
    * holding a landed statistics table all score through it. */
  def jaccardFromStats(stats: DataFrame, minJaccard: Double): DataFrame =
    stats
      .withColumn("jaccard", round(
        col("common").cast("double") /
          (col("size_a") + col("size_b") - col("common")).cast("double"), 6))
      .where(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "common", "size_a", "size_b", "jaccard")

  /** Pair statistics → containment (see [[containmentPairs]]). */
  def containmentFromStats(stats: DataFrame,
      minContainment: Double): DataFrame =
    stats
      .withColumn("containment", round(
        col("common").cast("double") /
          least(col("size_a"), col("size_b")).cast("double"), 6))
      .where(col("containment") >= minContainment)
      .select("doc_a", "doc_b", "common", "size_a", "size_b", "containment")

  /** Pair-statistics stage behind the n-gram similarity coefficients:
    * capped shingle postings → sorted posting walk → (doc_a, doc_b,
    * common, size_a, size_b), all longs (exact parquet round-trip, so a
    * landed copy — Tables.ngramPairStats — scores identically). */
  def ngramPairStats(df: DataFrame, text: Column, id: Column,
      k: Int = 3, maxDocFreq: Long = 100): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hashes = udf { (t: String) =>
      if (t == null) null
      else {
        val md = Md5Local.get()
        shinglesOf(t, k).distinct
          .map(s => key60(md.digest(s.getBytes("UTF-8")))).distinct
      }
    }
    val post = parallelized(df)
      .select(id.cast("long").as("doc_id"), explode(hashes(text)).as("sh"))
      .repartition(col("sh"))
      .sortWithinPartitions(col("sh"), col("doc_id"))
      .as[(Long, Long)]
    // one pass, two row kinds: (0, doc_id, _) per capped posting (the size
    // contributions) and (1, doc_a, doc_b) per in-run pair
    val walked = post.mapPartitions { it =>
      val buf = new scala.collection.mutable.ArrayBuffer[Long](64)
      var curSh = 0L
      var started = false
      def flush(): Iterator[(Int, Long, Long)] =
        if (!started || buf.isEmpty || buf.length > maxDocFreq) {
          buf.clear(); Iterator.empty
        } else {
          val ids = buf.toArray
          buf.clear()
          val sizes = ids.iterator.map(d => (0, d, 0L))
          val pairs = ids.indices.iterator.flatMap { i =>
            (i + 1 until ids.length).iterator.map(j => (1, ids(i), ids(j)))
          }
          sizes ++ pairs
        }
      new Iterator[(Int, Long, Long)] {
        private var pending: Iterator[(Int, Long, Long)] = Iterator.empty
        private def advance(): Unit = {
          while (!pending.hasNext && it.hasNext) {
            val (d, sh) = it.next()
            if (!started || sh != curSh) {
              pending = flush()
              curSh = sh; started = true
            }
            // runs beyond the cap stop accumulating (skew guard): keep one
            // sentinel overflow element so flush() sees length > cap
            if (buf.length <= maxDocFreq) buf += d
          }
          if (!pending.hasNext && !it.hasNext && started) {
            pending = flush(); started = false
          }
        }
        def hasNext: Boolean = { advance(); pending.hasNext }
        def next(): (Int, Long, Long) = { advance(); pending.next() }
      }
    }.toDF("kind", "x", "y")
    val sizes = walked.where(col("kind") === 0)
      .groupBy(col("x").as("doc_id")).agg(count(lit(1)).as("sz"))
    val pairs = walked.where(col("kind") === 1)
      .groupBy(col("x").as("doc_a"), col("y").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    // the size lookups are one-row-per-document — broadcastable only while
    // the corpus is; no explicit hint, AQE broadcasts when the side fits
    // and falls back to a shuffle join at scale
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sz", "size_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sz", "size_b"), Seq("doc_b"))
  }

  /** Per-document MinHash signature: `numHashes` md5-family min-hashes over
    * word-k-shingles.  Per-row scalar function (no shuffle); see
    * [[signatureOf]] for the kernel and its oracle-parity contract. */
  def minhashSignature(text: Column, k: Int = 3,
      numHashes: Int = 16): Column = {
    val f = udf((t: String) =>
      if (t == null) null else signatureOf(t, k, numHashes))
    f(text)
  }

  /** LSH banding: (doc_id, band, band_key) — docs sharing a band_key in any
    * band are near-dup candidates.  `bands` rows per doc; one shuffle on
    * the bucket key finds candidates without a cross product.
    *
    * Band keys (`md5` of the band's comma-joined signature values —
    * `md5(array_to_string(sg[b*r+1 : b*r+r], ','))` in the oracle) are
    * computed inside the signature kernel: the previous SQL formulation
    * walked the signature with interpreted higher-order functions and left
    * the expensive signature UDF exposed to projection-collapse
    * re-evaluation. */
  /** The per-row band-key array behind [[minhashBands]], exposed as a plain
    * column function so STREAMING frames can band too (the DataFrame
    * wrapper probes partition counts, which a streaming relation forbids —
    * see [[graft.streaming.StreamingOps.bandDedupStream]]). */
  def minhashBandArray(text: Column, k: Int = 3, numHashes: Int = 16,
      bands: Int = 4): Column = {
    val rowsPerBand = numHashes / bands
    val f = udf { (t: String) =>
      if (t == null) null
      else {
        val sig = signatureOf(t, k, numHashes)
        val md = Md5Local.get()
        val sb = new java.lang.StringBuilder(64)
        Array.tabulate(bands) { b =>
          sb.setLength(0)
          var i = b * rowsPerBand
          val end = i + rowsPerBand
          while (i < end) {
            if (i > b * rowsPerBand) sb.append(',')
            sb.append(sig(i))
            i += 1
          }
          val d = md.digest(sb.toString.getBytes("UTF-8"))
          val hex = new java.lang.StringBuilder(32)
          var j = 0
          while (j < d.length) {
            hex.append(Character.forDigit((d(j) >> 4) & 0xf, 16))
            hex.append(Character.forDigit(d(j) & 0xf, 16))
            j += 1
          }
          hex.toString
        }
      }
    }
    f(text)
  }

  def minhashBands(df: DataFrame, text: Column, id: Column,
      k: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame =
    parallelized(df)
      .select(id.as("doc_id"),
        posexplode(minhashBandArray(text, k, numHashes, bands))
          .as(Seq("band", "band_key")))
      .select(col("doc_id"), col("band").cast("int").as("band"),
        col("band_key"))

  /** Per-BUCKET first owner: for every (band, band_key) LSH bucket, the
    * document that claims it under the `ord` arrival order (min (ord, id)
    * — deterministic on ties).  This is the BATCH form of continuous
    * band-key dedup: a bucket's owner is the document every later
    * collision defers to, exactly what the streaming
    * [[graft.streaming.StreamingOps.bandDedupStream]] materializes
    * incrementally (its output equals this table when arrival order
    * matches `ord`).  One shuffle on the bucket key; map-side combine
    * (min_by is an ordinary hash aggregate). */
  def bandFirstOwners(df: DataFrame, text: Column, id: Column, ord: Column,
      k: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame =
    parallelized(df)
      .select(id.as("doc_id"), ord.as("__ord"),
        posexplode(minhashBandArray(text, k, numHashes, bands))
          .as(Seq("band", "band_key")))
      .groupBy(col("band").cast("int").as("band"), col("band_key"))
      .agg(min_by(col("doc_id"), struct(col("__ord"), col("doc_id")))
        .as("owner_id"))

  /** Candidate near-dup pairs from LSH buckets: (doc_a, doc_b) distinct.
    * One pass over the bands (signatures computed once — persisted, the
    * expensive kernel never runs twice), then a bucket-key self-join whose
    * per-key fan-out is the bucket size — candidates only, never the corpus
    * cross product, and a codegen'd distinct instead of a collect_list
    * object aggregate (which falls back to sort-based aggregation). */
  def minhashCandidates(df: DataFrame, text: Column, id: Column,
      k: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val bb = graft.core.CacheScope.persist(
      minhashBands(df, text, id, k, numHashes, bands), eager = false)
    bb.as("a")
      .join(bb.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the MOSS
    * algorithm): hash every lowercased char k-gram (60-bit md5 prefix),
    * slide a window over `w` consecutive hashes, select each window's
    * minimum (leftmost position on equal hashes).  Guarantee: two documents
    * sharing ANY substring of length >= w + k - 1 share at least one
    * fingerprint — the substring tier of dedup, below paragraphs.
    *
    * Output: (doc_id, pos, fp), the distinct selected positions.  Documents
    * with fewer than `w` k-grams contribute their single overall minimum;
    * text shorter than k chars contributes nothing; null text is dropped.
    *
    * Per-row kernel — monotonic-deque sliding minimum, O(chars) — behind an
    * explode; NO shuffle (the shuffle belongs to whatever consumes the
    * fingerprints, e.g. [[winnowPairs]]).  NOTE: positions must stay below
    * 2^20 (1M chars/doc) for the ORACLE's composite arg_min key only — the
    * kernel itself has no such bound and is correct at any document length
    * (real corpora routinely exceed 1M chars; only the test-harness SQL
    * mirror caps out).
    *
    * Hashing cost: ASCII text (the overwhelming bulk of a real corpus) is
    * UTF-8-encoded ONCE per document and each k-gram digested straight from
    * the shared byte buffer — no per-position substring/getBytes
    * allocations.  Non-ASCII documents fall back to the per-position
    * substring path (char→byte offsets are no longer the identity).  md5
    * stays the gram hash for oracle parity
    * (`('0x'||substr(md5(gram),1,15))::BIGINT` in the SQL mirror); a
    * rolling Karp–Rabin would be cheaper still but is not reproducible in
    * the oracle's hash vocabulary. */
  def winnowFingerprints(df: DataFrame, text: Column, id: Column,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0)
    val f = udf { (t0: String) =>
      if (t0 == null) Array.empty[(Long, Long)]
      else {
        val t = t0.toLowerCase(java.util.Locale.ROOT)
        val nh = t.length - k + 1
        if (nh <= 0) Array.empty[(Long, Long)]
        else {
          val md = Md5Local.get()
          val hs = new Array[Long](nh)
          val bytes = t.getBytes("UTF-8")
          if (bytes.length == t.length) {
            // pure-ASCII fast path: byte offset == char offset, one shared
            // buffer, zero allocations per position
            var i = 0
            while (i < nh) {
              md.update(bytes, i, k)
              hs(i) = key60(md.digest())
              i += 1
            }
          } else {
            var i = 0
            while (i < nh) {
              hs(i) = key60(md.digest(t.substring(i, i + k).getBytes("UTF-8")))
              i += 1
            }
          }
          val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
          if (nh <= w) {
            var best = 0
            var j = 1
            while (j < nh) { if (hs(j) < hs(best)) best = j; j += 1 }
            out += ((best.toLong, hs(best)))
          } else {
            // indices with increasing hash values; strict pops keep the
            // EARLIEST of equal minima at the front → leftmost-min rule
            val dq = new java.util.ArrayDeque[Int]()
            var lastSel = -1
            var j = 0
            while (j < nh) {
              while (!dq.isEmpty && hs(dq.peekLast) > hs(j)) dq.pollLast()
              dq.addLast(j)
              val s = j - w + 1
              if (s >= 0) {
                while (dq.peekFirst < s) dq.pollFirst()
                val sel = dq.peekFirst
                // a position's selection interval is contiguous, so the
                // adjacent-duplicate check yields globally distinct rows
                if (sel != lastSel) { out += ((sel.toLong, hs(sel))); lastSel = sel }
              }
              j += 1
            }
          }
          out.toArray
        }
      }
    }
    parallelized(df)
      .select(id.as("doc_id"), explode(f(text)).as("s"))
      .select(col("doc_id"), col("s._1").as("pos"), col("s._2").as("fp"))
  }

  /** Substring-overlap candidate pairs: documents sharing winnowing
    * fingerprints, with the count of distinct shared fingerprints.  The
    * fingerprint join is document-frequency-capped exactly like
    * [[shinglePostings]] — a fingerprint appearing in > maxDocFreq docs is
    * a stop-substring (boilerplate) with no pairing value and quadratic
    * fan-out, dropped before the join — and pairs sharing fewer than
    * `minSharedFps` fingerprints are dropped INSIDE the aggregate (a
    * HAVING on the map-side-combined count, not a post-filter), so the
    * pair list that leaves the shuffle is already thresholded.
    *
    * Parameter guidance AT SCALE: `k` is the match resolution — two
    * documents pair iff they share a substring of length >= w + k - 1.
    * k=8 finds any shared English phrase and makes the pair list
    * near-quadratic on a homogeneous corpus (at sf0.01 it emits 88% of all
    * possible pairs); real substring-dedup runs want k ≈ 25–50 (MOSS /
    * ExactSubstr territory: boilerplate and quotes, not phrases) plus
    * `minSharedFps >= 2` so one coincidental gram never pairs two
    * documents.  The output then grows linearly in corpus size (≤
    * C(maxDocFreq, 2) per fingerprint), with constants a downstream
    * aggregate can actually afford. */
  def winnowPairs(df: DataFrame, text: Column, id: Column,
      k: Int = 25, w: Int = 4, maxDocFreq: Long = 100,
      minSharedFps: Long = 2): DataFrame =
    winnowPairsFrom(
      winnowFingerprints(df, text, id, k, w)
        .select(col("doc_id").cast("long").as("doc_id"), col("fp"))
        .distinct(),
      maxDocFreq, minSharedFps)

  /** Fingerprint postings → [[winnowPairs]]: `postings` is the distinct
    * (doc_id, fp) set — or any frame whose (doc_id, fp) keys are that set,
    * e.g. a landed [[winnowPosAgg]] table (grouped on exactly that key). */
  def winnowPairsFrom(postings: DataFrame, maxDocFreq: Long,
      minSharedFps: Long): DataFrame = {
    require(minSharedFps >= 1, "minSharedFps must be >= 1")
    val fps = graft.core.CacheScope.persist(
      postings.select(col("doc_id"), col("fp")), eager = false)
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocFreq).select("fp")
    val posts = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    posts.as("a")
      .join(posts.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minSharedFps)
  }

  /** Maximal exact shared spans across documents — the ExactSubstr recipe
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", 2022), seeded by winnowing instead of a suffix array:
    *
    *  1. candidate pairs = documents sharing a winnow-selected fingerprint
    *     ([[winnowPairs]] semantics: df-capped, never all-pairs);
    *  2. seeds = the candidate pair's shared SELECTED fingerprints (all of
    *     them, including df-capped-out hot ones — the cap gates pair
    *     GENERATION only; dropping hot seeds here would lose whole spans);
    *  3. seed-and-extend: with both (lowercased) texts in hand, each seed
    *     extends left/right to the maximal matching char run on its
    *     diagonal; duplicate seeds inside one span collapse.
    *
    * Completeness: for `minLen >= w + k - 1` the result is EXACT — every
    * maximal shared span of that length contains a winnow-selected shared
    * fingerprint (the winnowing guarantee), so every qualifying span is
    * seeded; that bound is `require`d.  Char-level verification at the
    * seed makes hash collisions impossible to surface.
    *
    * Output: (doc_a, doc_b, start_a, start_b, len) — offsets into the
    * LOWERCASED text (= original offsets wherever lowercasing preserves
    * length, i.e. all of ASCII).
    *
    * Physical shape: fingerprints computed once (cached); pair + seed
    * joins are fingerprint-keyed hash joins; the extension kernel sees one
    * row per candidate PAIR (seeds grouped first), so text moves to the
    * kernel once per pair side, bounded by the candidate list — never
    * all-pairs, no data-wide sort (the suffix-array alternative). */
  def sharedSpans(df: DataFrame, text: Column, id: Column,
      k: Int = 25, w: Int = 4, maxDocFreq: Long = 100,
      minLen: Int = -1): DataFrame =
    sharedSpansFrom(winnowPosAgg(df, text, id, k, w), df, text, id, k, w,
      maxDocFreq, minLen)

  /** Position aggregate → [[sharedSpans]]: `posAggTable` is the corpus's
    * [[winnowPosAgg]] table at the same (k, w) — computed inline by the
    * one-call form, or a landed copy (longs and long arrays round-trip
    * parquet exactly, so the table is bit-identical). */
  def sharedSpansFrom(posAggTable: DataFrame, df: DataFrame, text: Column,
      id: Column, k: Int, w: Int, maxDocFreq: Long,
      minLen: Int = -1): DataFrame = {
    val ml = spanMinLen(k, w, minLen)
    // ONE cached table drives the whole pipeline: the per-(doc, fp)
    // sorted-position aggregate.  Its key set IS the distinct (doc, fp)
    // table (df-count + both sides of the candidate self-join), and its
    // position arrays ARE both seed sides — the old shape persisted the
    // raw positioned fingerprints AND a separate distinct table, then
    // aggregated positions twice (once per pair side).
    val agg = graft.core.CacheScope.persist(posAggTable, eager = false)
    val hot = agg.groupBy("fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocFreq).select("fp")
    val posts = agg.select("doc_id", "fp")
      .join(broadcast(hot), Seq("fp"), "left_anti")
    val cand = posts.as("a")
      .join(posts.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    extendSpans(cand,
      agg.select(col("doc_id").as("doc_a"), col("fp"), col("ps").as("pas")),
      agg.select(col("doc_id").as("doc_b"), col("fp"), col("ps").as("pbs")),
      df.select(id.cast("long").as("__tid"), lower(text).as("__t")),
      df.select(id.cast("long").as("__tid"), lower(text).as("__t")),
      k, ml)
  }

  /** The effective span threshold (`minLen < 0` = the winnowing bound
    * w + k - 1), required to be at least that bound: spans shorter than
    * it may lack a selected seed. */
  private def spanMinLen(k: Int, w: Int, minLen: Int): Int = {
    val ml = if (minLen < 0) w + k - 1 else minLen
    require(ml >= w + k - 1,
      s"minLen=$ml below the winnowing guarantee w+k-1=${w + k - 1}: " +
        "spans shorter than that may lack a selected seed (use a smaller " +
        "k/w instead)")
    ml
  }

  /** Per-(doc, fp) sorted-position lists — the seed-side shape of
    * [[extendSpans]].  `maxPosPerFp` bounds the per-(doc, fp) list
    * (smallest positions kept, deterministically): it only binds when ONE
    * k-gram recurs more than that many times inside one document — text
    * no quality gate would pass — and caps the worst-case seed
    * enumeration at maxPosPerFp² cheap lookups per shared fingerprint. */
  private def posAgg(fps: DataFrame, maxPosPerFp: Int = 256): DataFrame =
    fps.groupBy(col("doc_id"), col("fp"))
      .agg(slice(array_sort(collect_list(col("pos"))), 1, maxPosPerFp)
        .as("ps"))

  /** The [[posAgg]] table of a corpus's winnow fingerprints — the landable
    * shape of the whole span tier: (doc_id, fp, ps sorted-position array).
    * Every span operator (sharedSpans, spanDedupedText, winnowPairs'
    * distinct key set, contaminationSpans' corpus side) derives from
    * exactly this table, so a caller that lands it once (the
    * Tables.minhashCands discipline) feeds it to the `*From` stages and
    * skips the per-query fingerprint kernel (one md5 per char position —
    * the tier's dominant cost at any scale). */
  def winnowPosAgg(df: DataFrame, text: Column, id: Column,
      k: Int = 25, w: Int = 4): DataFrame =
    posAgg(winnowFingerprints(df, text, id, k, w)
      .select(col("doc_id").cast("long").as("doc_id"), col("pos"),
        col("fp")))

  /** Shared tail of [[sharedSpans]] / [[contaminationSpans]]: given
    * candidate pairs, each side's per-(doc, fp) sorted position lists
    * ([[posAgg]] shape: (doc_a, fp, pas) / (doc_b, fp, pbs)), and each
    * side's lowercased texts ((__tid, __t)), seed every shared SELECTED
    * fingerprint and extend to maximal char runs >= `ml`.
    *
    * Positions arrive pre-aggregated per (doc, fp), so a fingerprint
    * recurring n times in each document of a pair contributes n+n array
    * elements, not n×n join rows — on low-entropy/repetitive documents
    * (boilerplate, 'aaaa…' pages) the old row-per-seed shape materialized
    * the full quadratic cross product into one collect_list row.  The
    * kernel enumerates the per-fp cross product lazily and skips any seed
    * that lands inside a run already extended on its diagonal (extension
    * is maximal char-match along the diagonal, so such a seed reproduces
    * the same run; a seed straddling a run boundary fails the char verify
    * at the boundary mismatch) — each maximal run is extended exactly
    * once.
    *
    * Each seed is char-verified in the kernel, so hash collisions cannot
    * surface. */
  private def extendSpans(cand: DataFrame, aggA: DataFrame, aggB0: DataFrame,
      loweredA: DataFrame, loweredB: DataFrame, k: Int, ml: Int,
      broadcastB: Boolean = false): DataFrame = {
    // the hint must sit directly on the join input — a broadcast() applied
    // by the caller to the raw fingerprints would be buried under the agg
    val aggB = if (broadcastB) broadcast(aggB0) else aggB0
    val seeds = cand
      .join(aggA, Seq("doc_a"))
      .join(aggB, Seq("doc_b", "fp"))
      .groupBy("doc_a", "doc_b")
      .agg(collect_list(struct(col("pas").as("_1"), col("pbs").as("_2")))
        .as("__seeds"))
    val extend = udf { (ta: String, tb: String,
        seeds: Seq[(Seq[Long], Seq[Long])]) =>
      val la = ta.length; val lb = tb.length
      val out = new scala.collection.mutable.LinkedHashSet[(Long, Long, Long)]()
      // diagonal (pa - pb) -> runs found so far, as (sa, ea) intervals
      val runs = new java.util.HashMap[Int,
        scala.collection.mutable.ArrayBuffer[(Int, Int)]]()
      seeds.foreach { case (pas, pbs) =>
        pas.foreach { paL =>
          val pa = paL.toInt
          pbs.foreach { pbL =>
            val pb = pbL.toInt
            val diag = pa - pb
            val known = runs.get(diag)
            val covered = known != null && known.exists { case (sa, ea) =>
              sa <= pa && pa + k <= ea
            }
            if (!covered) {
              // char-verify the seed gram (kills hash collisions); extend
              var ok = pa + k <= la && pb + k <= lb
              var i = 0
              while (ok && i < k) {
                ok = ta.charAt(pa + i) == tb.charAt(pb + i); i += 1
              }
              if (ok) {
                var sa = pa; var sb = pb
                while (sa > 0 && sb > 0 &&
                    ta.charAt(sa - 1) == tb.charAt(sb - 1)) {
                  sa -= 1; sb -= 1
                }
                var ea = pa + k; var eb = pb + k
                while (ea < la && eb < lb && ta.charAt(ea) == tb.charAt(eb)) {
                  ea += 1; eb += 1
                }
                runs.computeIfAbsent(diag,
                  _ => new scala.collection.mutable.ArrayBuffer[(Int, Int)]())
                  .append((sa, ea))
                if (ea - sa >= ml)
                  out += ((sa.toLong, sb.toLong, (ea - sa).toLong))
              }
            }
          }
        }
      }
      out.toArray
    }
    seeds
      .join(loweredA, col("doc_a") === col("__tid")).drop("__tid")
      .withColumnRenamed("__t", "__ta")
      .join(loweredB, col("doc_b") === col("__tid")).drop("__tid")
      .select(col("doc_a"), col("doc_b"),
        explode(extend(col("__ta"), col("__t"), col("__seeds"))).as("s"))
      .select(col("doc_a"), col("doc_b"), col("s._1").as("start_a"),
        col("s._2").as("start_b"), col("s._3").as("len"))
  }

  /** Substring-tier contamination: maximal exact shared spans between
    * corpus documents and an evaluation-set probe — catches benchmark text
    * that word-n-gram matching ([[contaminationPairs]]) misses when
    * tokenization differs (punctuation, casing, joined words), because the
    * match unit is raw lowercased characters.  Winnow-seeded like
    * [[sharedSpans]]; candidate pairs come from an UNCAPPED fingerprint
    * join against the probe (the decontamination argument of
    * [[contaminationPairs]]: fan-out is probe-bounded, and boilerplated
    * benchmark text must be caught, not capped away).  The probe's
    * fingerprints and postings are broadcast; the corpus side is scanned
    * map-side.  Output: (doc_id, probe_id, start, probe_start, len) —
    * `start` into the corpus document's lowercased text. */
  def contaminationSpans(corpus: DataFrame, text: Column, id: Column,
      probe: DataFrame, ptext: Column, pid: Column,
      k: Int = 25, w: Int = 4, minLen: Int = -1): DataFrame =
    contaminationSpansFrom(winnowPosAgg(corpus, text, id, k, w), corpus,
      text, id, probe, ptext, pid, k, w, minLen)

  /** Corpus position aggregate → [[contaminationSpans]]: `corpusPosAgg`
    * is the corpus's [[winnowPosAgg]] table at the same (k, w), inline or
    * landed. */
  def contaminationSpansFrom(corpusPosAgg: DataFrame, corpus: DataFrame,
      text: Column, id: Column, probe: DataFrame, ptext: Column, pid: Column,
      k: Int, w: Int, minLen: Int = -1): DataFrame = {
    val ml = spanMinLen(k, w, minLen)
    // one cached per-(doc, fp) position aggregate per side (the sharedSpans
    // discipline): key sets drive the candidate join, position arrays are
    // the seed sides — no separate positioned-fingerprint persists
    val aggC = graft.core.CacheScope.persist(corpusPosAgg, eager = false)
    val aggP = graft.core.CacheScope.persist(
      winnowPosAgg(probe, ptext, pid, k, w), eager = false)
    val cand = aggC.select("doc_id", "fp").as("a")
      .join(broadcast(aggP.select("doc_id", "fp").as("b")),
        col("a.fp") === col("b.fp"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    extendSpans(cand,
      aggC.select(col("doc_id").as("doc_a"), col("fp"), col("ps").as("pas")),
      aggP.select(col("doc_id").as("doc_b"), col("fp"), col("ps").as("pbs")),
      corpus.select(id.cast("long").as("__tid"), lower(text).as("__t")),
      probe.select(pid.cast("long").as("__tid"), lower(ptext).as("__t")),
      k, ml, broadcastB = true)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("probe_id"),
        col("start_a").as("start"), col("start_b").as("probe_start"),
        col("len"))
  }

  /** Turn a [[sharedSpans]] pair list into a per-document REMOVAL list:
    * the keeper convention of the whole engine (minimum id wins) applied
    * at span granularity — each span is removed from `doc_b`, kept in
    * `doc_a`; overlapping removals on one document are merged into
    * disjoint intervals.  Output: (doc_id, start, len), disjoint per doc.
    *
    * One shuffle on doc_id; the merge kernel sees one row per document
    * with its interval list (candidate-bounded). */
  def spanRemovals(spans: DataFrame): DataFrame = {
    val merge = udf { (iv: Seq[org.apache.spark.sql.Row]) =>
      val sorted = iv.map(r => (r.getLong(0), r.getLong(0) + r.getLong(1)))
        .sortBy(x => (x._1, x._2))
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      sorted.foreach { case (s, e) =>
        if (out.nonEmpty && s <= out.last._2) {
          val (ls, le) = out.last
          out(out.length - 1) = (ls, math.max(le, e))
        } else out += ((s, e))
      }
      out.map { case (s, e) => (s, e - s) }.toArray
    }
    spans
      .groupBy(col("doc_b").as("doc_id"))
      .agg(collect_list(struct(col("start_b"), col("len"))).as("__iv"))
      .select(col("doc_id"), explode(merge(col("__iv"))).as("m"))
      .select(col("doc_id"), col("m._1").as("start"), col("m._2").as("len"))
  }

  /** End-to-end exact-substring dedup: [[sharedSpans]] → [[spanRemovals]]
    * → rebuild each document's LOWERCASED text with every removed interval
    * cut out (the byte-range removal of the ExactSubstr recipe, vs the
    * paragraph-aligned [[paragraphDedupedText]]).  Documents with no
    * removals pass through unchanged; a fully-covered document comes out
    * as the empty string.  Output: (doc_id, deduped_text). */
  def spanDedupedText(df: DataFrame, text: Column, id: Column,
      k: Int = 25, w: Int = 4, maxDocFreq: Long = 100,
      minLen: Int = -1): DataFrame =
    spanCutText(df, text, id, sharedSpans(df, text, id, k, w, maxDocFreq,
      minLen))

  /** Spans → [[spanDedupedText]]: cut the [[spanRemovals]] of a
    * [[sharedSpans]]-shaped pair list (inline or from a landed position
    * aggregate via [[sharedSpansFrom]]) out of each document's lowercased
    * text.  Output: (doc_id, deduped_text). */
  def spanCutText(df: DataFrame, text: Column, id: Column,
      spans: DataFrame): DataFrame = {
    val removals = spanRemovals(spans)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start"), col("len"))).as("__iv"))
    val cut = udf { (t: String, iv: Seq[org.apache.spark.sql.Row]) =>
      if (iv == null) t
      else {
        val sorted = iv.map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
          .sortBy(_._1)
        val sb = new java.lang.StringBuilder(t.length)
        var cur = 0
        sorted.foreach { case (s, l) =>
          if (s > cur) sb.append(t, cur, s)
          cur = math.max(cur, s + l)
        }
        if (cur < t.length) sb.append(t, cur, t.length)
        sb.toString
      }
    }
    df.select(id.cast("long").as("doc_id"), lower(text).as("__t"))
      .join(removals, Seq("doc_id"), "left")
      .select(col("doc_id"), cut(col("__t"), col("__iv")).as("deduped_text"))
  }

  /** Persist a corpus's MinHash LSH band table as a dedup INDEX for
    * incremental ingestion: the [[minhashBands]] output written as parquet.
    * Real pipelines ingest continuously — the index lets a new shard be
    * deduped against everything seen so far WITHOUT recomputing the old
    * corpus's signatures ([[minhashCandidatesAgainst]]), and
    * [[minhashIndexAppend]] keeps it current after each shard. */
  private def minhashParams(k: Int, numHashes: Int, bands: Int) =
    Seq("k" -> k, "num_hashes" -> numHashes, "bands" -> bands)

  def minhashIndexWrite(df: DataFrame, text: Column, id: Column, dir: String,
      k: Int = 3, numHashes: Int = 16, bands: Int = 4): Unit =
    PersistedIndex.write(minhashBands(df, text, id, k, numHashes, bands),
      dir, minhashParams(k, numHashes, bands))

  /** Append a new shard's band table to a persisted index (call after the
    * shard has been deduped via [[minhashCandidatesAgainst]]). */
  def minhashIndexAppend(df: DataFrame, text: Column, id: Column, dir: String,
      k: Int = 3, numHashes: Int = 16, bands: Int = 4): Unit =
    PersistedIndex.append(minhashBands(df, text, id, k, numHashes, bands),
      dir, minhashParams(k, numHashes, bands))

  /** Incremental MinHash dedup: candidate near-dup pairs of a NEW shard
    * against a persisted band index ([[minhashIndexWrite]]) plus the shard
    * itself — equal to the full-corpus [[minhashCandidates]] restricted to
    * pairs touching at least one new document (ids must be disjoint from the
    * indexed corpus; a shared id is treated as the same document and never
    * paired with itself).  Output: (doc_a, doc_b) distinct, doc_a < doc_b.
    *
    * Physical shape: only the NEW shard is signature-hashed (the expensive
    * kernel); the index side is a plain parquet scan joined on
    * (band, band_key).  When the shard is small relative to the index — the
    * steady state of continuous ingestion — AQE broadcasts the shard's band
    * table, so the multi-TB index is scanned map-side and NEVER shuffled;
    * both sides only ever exchange on the bucket key beyond that. */
  def minhashCandidatesAgainst(indexDir: String, newDf: DataFrame,
      text: Column, id: Column, k: Int = 3, numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    val spark = newDf.sparkSession
    PersistedIndex.requireParams(spark, indexDir,
      minhashParams(k, numHashes, bands))
    val nb = graft.core.CacheScope.persist(
      minhashBands(newDf, text, id, k, numHashes, bands), eager = false)
    val ob = spark.read.parquet(indexDir)
    val oldNew = ob.as("a")
      .join(nb.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    val newNew = nb.as("a")
      .join(nb.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    oldNew.unionByName(newNew).distinct()
  }

  private def winnowParams(k: Int, w: Int) = Seq("k" -> k, "w" -> w)

  /** Persist a corpus's winnow-selected fingerprint table
    * ((doc_id, fp) distinct — positions are not needed for pairing) as a
    * substring-tier dedup index: the [[PersistedIndex]] pattern applied to
    * [[winnowFingerprints]]. */
  def winnowIndexWrite(df: DataFrame, text: Column, id: Column, dir: String,
      k: Int = 25, w: Int = 4): Unit =
    PersistedIndex.write(
      winnowFingerprints(df, text, id, k, w)
        .select(col("doc_id").cast("long").as("doc_id"), col("fp"))
        .distinct(),
      dir, winnowParams(k, w))

  /** Append a new shard's winnow fingerprints to a persisted index (call
    * after the shard has been deduped via [[winnowCandidatesAgainst]]). */
  def winnowIndexAppend(df: DataFrame, text: Column, id: Column, dir: String,
      k: Int = 25, w: Int = 4): Unit =
    PersistedIndex.append(
      winnowFingerprints(df, text, id, k, w)
        .select(col("doc_id").cast("long").as("doc_id"), col("fp"))
        .distinct(),
      dir, winnowParams(k, w))

  /** Incremental substring-overlap candidates: [[winnowPairs]] of a NEW
    * shard against a persisted fingerprint index plus the shard itself —
    * equal to the full-corpus [[winnowPairs]] (same df-cap, computed over
    * index ∪ shard; same `minSharedFps` threshold) restricted to pairs
    * touching at least one new document.  Ids must be disjoint from the
    * indexed corpus.  Output: (doc_a, doc_b, shared_fps), doc_a < doc_b.
    *
    * Only the NEW shard runs the fingerprint kernel; the index side is a
    * parquet scan.  Steady state (shard << index): AQE broadcasts the
    * shard's fingerprints, the index is scanned map-side, and the only
    * shuffle is the pair aggregate. */
  def winnowCandidatesAgainst(indexDir: String, newDf: DataFrame,
      text: Column, id: Column, k: Int = 25, w: Int = 4,
      maxDocFreq: Long = 100, minSharedFps: Long = 2): DataFrame = {
    val spark = newDf.sparkSession
    PersistedIndex.requireParams(spark, indexDir, winnowParams(k, w))
    require(minSharedFps >= 1, "minSharedFps must be >= 1")
    val nf = graft.core.CacheScope.persist(
      winnowFingerprints(newDf, text, id, k, w)
        .select(col("doc_id").cast("long").as("doc_id"), col("fp"))
        .distinct(),
      eager = false)
    val all = spark.read.parquet(indexDir).unionByName(nf)
    // document frequency over the UNION corpus — identical to the cap the
    // full-corpus run would apply
    val hot = all.groupBy("fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocFreq).select("fp")
    val postsAll = all.join(broadcast(hot), Seq("fp"), "left_anti")
    val postsNew = nf.join(broadcast(hot), Seq("fp"), "left_anti")
    postsNew.as("a")
      .join(postsAll.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") =!= col("b.doc_id"))
      // new-new pairs surface twice from this join (once per side); the
      // per-fp distinct collapses them before the count
      .select(col("a.fp"),
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minSharedFps)
  }

  private val SimhashParams = Seq("bits" -> 60, "bands" -> 4)

  /** Persist a corpus's SimHash band table ((doc_id, sh, band, key)) as a
    * document-tier dedup index — [[PersistedIndex]] applied to the 4×15-bit
    * banding of [[simhash60]].  The signature rides along, so a reader can
    * Hamming-confirm without touching the original corpus. */
  def simhashIndexWrite(df: DataFrame, text: Column, id: Column,
      dir: String): Unit =
    PersistedIndex.write(simhashBanded(df, text, id), dir, SimhashParams)

  /** Append a new shard's SimHash bands to a persisted index. */
  def simhashIndexAppend(df: DataFrame, text: Column, id: Column,
      dir: String): Unit =
    PersistedIndex.append(simhashBanded(df, text, id), dir, SimhashParams)

  /** Incremental SimHash near-dup pairs of a NEW shard against a persisted
    * band index plus the shard itself: band-collision candidates, confirmed
    * by Hamming distance over the stored signatures — equal to
    * [[simhashPairs]] over the union corpus restricted to pairs touching a
    * new document.  Same recall contract as [[simhashPairs]] (exact for
    * `maxHamming <= 3`, banding-bounded beyond — `approxRecall` required).
    * Output: (doc_a, doc_b, hamming) distinct, doc_a < doc_b. */
  def simhashCandidatesAgainst(indexDir: String, newDf: DataFrame,
      text: Column, id: Column, maxHamming: Int = 3,
      approxRecall: Boolean = false): DataFrame = {
    require(maxHamming <= 3 || approxRecall,
      s"maxHamming=$maxHamming exceeds the exact-recall bound of the 4x15-bit " +
        "banding (3); pass approxRecall=true to accept banding-bounded recall")
    val spark = newDf.sparkSession
    PersistedIndex.requireParams(spark, indexDir, SimhashParams)
    val nb = simhashBanded(newDf, text, id)
    val all = spark.read.parquet(indexDir).unionByName(nb)
    nb.as("a")
      .join(all.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long")
          .as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  private val ExactParams = Seq("digest" -> 128) // md5 width — a marker

  /** Persist a corpus's exact-content digest table ((doc_id, text_hash))
    * as the EXACT tier of the incremental-dedup ladder — the
    * [[PersistedIndex]] pattern with the md5 digest as the key. */
  def exactIndexWrite(df: DataFrame, text: Column, id: Column,
      dir: String): Unit =
    PersistedIndex.write(
      df.select(id.as("doc_id"), md5(text).as("text_hash")), dir, ExactParams)

  /** Append a new shard's digests to a persisted exact index. */
  def exactIndexAppend(df: DataFrame, text: Column, id: Column,
      dir: String): Unit =
    PersistedIndex.append(
      df.select(id.as("doc_id"), md5(text).as("text_hash")), dir, ExactParams)

  /** Rows of a NEW shard whose text was never seen by a persisted exact
    * index — `shard ANTI JOIN index ON digest`, planned so the multi-TB
    * index is never shuffled:
    *
    *  1. a Bloom filter over the index digests (built once per call;
    *     `fpp` at the index's row count) partitions the shard locally:
    *     rows outside the filter are DEFINITELY new (no false negatives)
    *     and skip the join entirely — in steady-state ingestion that is
    *     almost the whole shard;
    *  2. the "maybe" remainder (true dups + fpp noise) resolves against
    *     the index with a broadcast semi-join: the maybe-digests broadcast
    *     to the index scan (map-side, index never shuffled), and the
    *     surviving "seen" digests broadcast back to filter the shard.
    *
    * If the maybe-set exceeds `maxBroadcastKeys` (a shard that is mostly
    * duplicates), the plan falls back to a plain shuffle anti-join —
    * correct at any size, just not shuffle-free.
    *
    * Within-shard duplicates are NOT collapsed (use [[exactDedup]] on the
    * shard first); result equals the plain anti-join exactly — including on
    * null text, whose null digest never matches an index key and is
    * therefore kept as new on every path. */
  def exactNewAgainst(indexDir: String, newDf: DataFrame, text: Column,
      id: Column, fpp: Double = 0.01,
      maxBroadcastKeys: Long = 5000000L): DataFrame = {
    val spark = newDf.sparkSession
    PersistedIndex.requireParams(spark, indexDir, ExactParams)
    val idx = spark.read.parquet(indexDir).select(col("text_hash"))
    val idxRows = math.max(1L, idx.count())
    val bloom = idx.stat.bloomFilter("text_hash", idxRows, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    // null text ⇒ null digest ⇒ DEFINITELY NEW: a null key never matches in
    // the plain anti-join this op must equal, so the Bloom gate must route
    // null digests to the definite-new side (and never NPE on them).
    val mc = udf { (h: String) => h != null && bc.value.mightContainString(h) }
    val d = newDf.withColumn("__h", md5(text))
    val definiteNew = d.where(!mc(col("__h")))
    val maybe = graft.core.CacheScope.persist(
      d.where(mc(col("__h"))), eager = false)
    val maybeKeys = maybe.select(col("__h")).distinct()
    val resolved =
      if (maybe.count() <= maxBroadcastKeys) {
        val seen = idx.join(broadcast(maybeKeys),
          col("text_hash") === col("__h"), "left_semi").distinct()
        maybe.join(broadcast(seen), col("__h") === col("text_hash"),
          "left_anti")
      } else {
        maybe.join(idx, col("__h") === col("text_hash"), "left_anti")
      }
    definiteNew.unionByName(resolved).drop("__h")
  }

  /** 60-bit SimHash over word-3-shingles (with multiplicity): bit i is the
    * sign of the shingle-population vote, where each shingle votes +1/-1 by
    * bit i of its 60-bit md5-derived hash (the first 15 md5 hex chars —
    * exactly `('0x' || substr(md5(s), 1, 15))::BIGINT`, so the oracle
    * reproduces it; 60 bits keeps the signature positive in both Spark LONG
    * and DuckDB BIGINT).  Integer votes, so the per-row value is
    * associativity-independent.  JVM kernel for the same reason as
    * [[signatureOf]].
    *
    * Shingles, not unigram tokens: unigram votes are dominated by the
    * corpus-common words every document shares, so unrelated documents'
    * signatures correlate and any banding scheme over-collides (measured
    * 2 717 candidate pairs on 500 sf0.01 docs).  k-shingles are
    * document-specific, so unrelated signatures are near-uniform and
    * in-bucket populations stay at the random-collision floor. */
  def simhash60(text: Column): Column = {
    val f = udf((t: String) => {
      if (t == null) null
      else {
        val toks = shinglesOf(t, 3)
        // votes are additive over shingle MULTIPLICITY, so hash each
        // DISTINCT shingle once and weight its vote by the count — the md5
        // is the kernel's dominant cost
        val counts = new java.util.HashMap[String, Int]()
        toks.foreach(tk => counts.merge(tk, 1, Integer.sum))
        val votes = new Array[Int](60)
        val md = Md5Local.get()
        counts.forEach { (tk, cnt) =>
          val h = key60(md.digest(tk.getBytes("UTF-8")))
          var i = 0
          while (i < 60) {
            votes(i) += (if (((h >> i) & 1L) == 1L) cnt else -cnt); i += 1
          }
        }
        var sig = 0L
        var i = 0
        while (i < 60) { if (votes(i) > 0) sig |= 1L << i; i += 1 }
        java.lang.Long.valueOf(sig)
      }
    })
    f(text)
  }

  /** (doc_id, sh, band, key): the 60-bit signature exploded into its four
    * 15-bit band buckets, signature carried alongside so a Hamming confirm
    * needs no extra join back to the signature table.  Persisted — the
    * signature kernel runs once. */
  private def simhashBanded(df: DataFrame, text: Column, id: Column): DataFrame =
    graft.core.CacheScope.persist(
      parallelized(df)
        .select(id.as("doc_id"), simhash60(text).as("sh"))
        .select(col("doc_id"), col("sh"), explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sh"), 15 * b).bitwiseAND(32767).as("key"))): _*))
          .as("b"))
        .select(col("doc_id"), col("sh"), col("b.band").as("band"),
          col("b.key").as("key")),
      eager = false)

  /** SimHash near-dup candidates: docs whose 60-bit signatures share any of
    * four 15-bit bands (standard simhash blocking — every pair within
    * Hamming distance 3 collides in at least one band).  Same
    * bucket-expansion shape as MinHash banding.  32 768 buckets PER BAND:
    * at corpus scale the per-bucket population is n/2^15 per band, so the
    * in-bucket self-join stays near-linear (the previous 16-bit/2-band
    * form had 256 buckets total — quadratic blow-up at 100 TB). */
  def simhashCandidates(df: DataFrame, text: Column, id: Column): DataFrame = {
    val sig = simhashBanded(df, text, id)
    sig.as("a")
      .join(sig.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** SimHash near-dup pairs CONFIRMED by Hamming distance:
    * [[simhashCandidates]]'s band collisions filtered by
    * `popcount(sh_a XOR sh_b) <= maxHamming` — the cheap verify stage the
    * candidate list lacks (MinHash candidates confirm via
    * [[ngramJaccardPairs]]; this is the SimHash analogue).  Output:
    * (doc_a, doc_b, hamming), doc_a < doc_b.
    *
    * Recall contract: for `maxHamming <= 3` the result is EXACT over the
    * signature space — any two 60-bit signatures within Hamming distance 3
    * agree on at least one of the four 15-bit bands (pigeonhole), so the
    * pair collides.  Beyond 3 the banding only BOUNDS recall (standard
    * simhash blocking): a pair at Hamming h > 3 collides only if its h
    * differing bits happen to miss one band entirely.  Because a caller
    * reading "maxHamming = 20" could reasonably assume full recall, the
    * partial-recall regime must be opted into explicitly with
    * `approxRecall = true` — the call fails loudly otherwise.  The
    * signatures ride along the band table, so the confirm is a pointwise
    * integer expression on the join output — no extra shuffle. */
  def simhashPairs(df: DataFrame, text: Column, id: Column,
      maxHamming: Int = 3, approxRecall: Boolean = false): DataFrame = {
    require(maxHamming <= 3 || approxRecall,
      s"maxHamming=$maxHamming exceeds the exact-recall bound of the 4x15-bit " +
        "banding (3); pass approxRecall=true to accept banding-bounded recall")
    val sig = simhashBanded(df, text, id)
    sig.as("a")
      .join(sig.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .distinct() // (doc_a, doc_b) determine (sh_a, sh_b): distinct pairs
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Confirm a candidate pair list by n-gram Jaccard similarity: for each
    * (doc_a, doc_b) candidate, the true Jaccard over document-frequency-
    * capped shingle-key sets, keeping pairs >= `minJaccard`.  This is the
    * verify stage of the standard MinHash pipeline — the expensive exact
    * measure runs ONLY on candidate pairs (bounded by the banding), never
    * all pairs.  Join shape: candidates fan out by the a-side postings
    * (~shingles/doc), matched to b-side postings on (doc_b, shingle) — two
    * hash joins keyed on numeric columns, no raw text movement. */
  def confirmJaccard(df: DataFrame, text: Column, id: Column,
      pairs: DataFrame, k: Int = 3, maxDocFreq: Long = 100,
      minJaccard: Double = 0.2): DataFrame = {
    val post = shinglePostings(df, text, id, k, maxDocFreq)
      .select(col("doc_id").cast("long").as("doc_id"), col("sh"))
    val postC = graft.core.CacheScope.persist(post, eager = false)
    val sizes = postC.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val p = pairs.select(col("doc_a").cast("long").as("doc_a"),
      col("doc_b").cast("long").as("doc_b"))
    val common = p
      .join(postC.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(postC.as("pb"),
        col("doc_b") === col("pb.doc_id") && col("pa.sh") === col("pb.sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    // the candidates' own [[ngramPairStats]] rows: a caller holding the
    // corpus table (same k, same df-cap) gets the identical rows by
    // joining it to the candidates — same capping (a run longer than the
    // cap drops whole, exactly the left_anti hot filter), same common
    // counts, same sizes; zero-common candidates drop out of both
    val stats = common
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("size_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("size_b")),
        Seq("doc_b"))
    jaccardFromStats(stats, minJaccard).select("doc_a", "doc_b", "jaccard")
  }

  /** End-to-end fuzzy document dedup — the canonical curation pipeline as
    * one call: MinHash LSH candidates ([[minhashCandidates]]) → exact
    * Jaccard confirm on candidates only ([[confirmJaccard]]) → duplicate
    * clusters ([[dedupClusters]]) → keeper projection.  Returns the
    * surviving rows of `df`: the minimum-id member of every confirmed
    * near-dup cluster plus every unclustered document.
    *
    * Every stage is the bounded/banded shape verified in BENCH_SCALE.md;
    * nothing here is all-pairs.
    *
    * Storage contract ([[removeClusterLosers]]): a one-call convenience
    * API must not pin corpus-derived tables in executor storage until the
    * caller remembers [[graft.core.CacheScope.release]] — only the loser
    * list stays cached when this returns. */
  def fuzzyDedup(df: DataFrame, text: Column, id: Column, k: Int = 3,
      numHashes: Int = 16, bands: Int = 4, maxDocFreq: Long = 100,
      minJaccard: Double = 0.5): DataFrame =
    removeClusterLosers(df, id,
      confirmJaccard(df, text, id,
        minhashCandidates(df, text, id, k, numHashes, bands), k, maxDocFreq,
        minJaccard))

  /** Confirmed pairs → cluster-loser removal, the keeper tail of every
    * one-call dedup: [[dedupClusters]] over `pairs` ((doc_a, doc_b)),
    * then `df` minus every non-minimum cluster member.
    *
    * Storage contract: `pairs` is by-name and built INSIDE this call's
    * [[graft.core.CacheScope.scoped]] scope, so every intermediate its
    * stages persist (band table, postings, pair cache, cluster labels) is
    * materialized into the loser list and released before this returns.
    * Only the loser list (≤ one row per duplicate) stays cached, promoted
    * to the caller's scope so their usual `release()` drops it; frames the
    * caller (or a concurrent pipeline in the same JVM) registered are
    * never touched. */
  def removeClusterLosers(df: DataFrame, id: Column,
      pairs: => DataFrame): DataFrame =
    graft.core.CacheScope.scoped { scope =>
      // rename to avoid capturing the caller frame's own id column
      val losers = dedupClusters(pairs)
        .where(col("doc_id") =!= col("keeper_id"))
        .select(col("doc_id").as("__loser_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      losers.count() // materialize BEFORE dropping the upstream caches
      scope.releaseExcept(losers)
      df.join(losers, id.cast("long") === col("__loser_id"), "left_anti")
    }

  /** In-cluster cosine near-duplicate pairs — the pair stage of semantic
    * dedup: given a cluster assignment (the coarse quantizer's output —
    * learned [[MlOps.kmeansFit]] or fixed [[SimilarityOps.ivfAssign]]),
    * emit every same-cluster id-ordered pair with cosine >= `minCosine`.
    * The cluster id plays exactly the role the LSH bucket plays in
    * [[embeddingPairsBucketed]]: ONE shuffle on the cluster id, in-cluster
    * fan-out bounded by the cluster population (k centroids over n rows →
    * ~n/k rows per cluster), never the corpus cross product.  At 100 TB
    * the cluster id is the partition/bucketing key, k is sized so a cell
    * fits an executor (SemDeDup's own recipe: k ~ sqrt(n)), and a skewed
    * mega-cluster is the signal to raise k — the plan shape is unchanged.
    *
    * Output: (doc_a, doc_b, cos) — the [[dedupClusters]] input shape.
    * Cosine arithmetic matches [[embeddingPairs]] (sequential fold, 6-dp
    * HALF_UP round) for oracle parity. */
  def semanticPairs(df: DataFrame, vec: Column, id: Column,
      clusters: DataFrame, minCosine: Double): DataFrame = {
    val withC = df
      .select(id.cast("long").as("vid"), vec.as("v"))
      .join(clusters.select(col("vec_id").cast("long").as("vid"),
        col("cluster")), Seq("vid"))
    withC.as("a")
      .join(withC.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("doc_a"), col("b.vid").as("doc_b"),
        round(SimilarityOps.cosine(col("a.v"), col("b.v")), 6).as("cos"))
      .where(col("cos") >= minCosine)
  }

  /** Semantic dedup against a caller-supplied cluster assignment
    * (`clusters`: (vec_id, cluster)): [[semanticPairs]] within each cell →
    * [[dedupClusters]] connected components → keeper projection (the
    * minimum-id member of every cosine-dup group survives, plus every
    * unpaired row).  Same storage contract as [[fuzzyDedup]]: the loser
    * list is materialized, every upstream cache released, and only the
    * loser list stays registered with the scope. */
  def semanticDedupAssigned(df: DataFrame, vec: Column, id: Column,
      clusters: DataFrame, minCosine: Double): DataFrame =
    removeClusterLosers(df, id,
      semanticPairs(df, vec, id, clusters, minCosine))

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): embedding-tier
    * dedup as cluster-then-prune — seeded k-means over the embedding
    * column ([[MlOps.kmeansFit]]) partitions the corpus into k semantic
    * cells, then every in-cell cosine-dup group keeps one representative.
    * The k-means restriction is what makes the embedding tier scale: the
    * O(n²) cosine search runs per cell (~(n/k)² work × k cells = n²/k),
    * and the cells are the natural partition key, so no stage ever holds
    * more than a cell.  Completes the dedup ladder: document (exact /
    * MinHash / SimHash) → paragraph → substring (winnowing) → semantic.
    *
    * Deterministic for fixed input+seed on both k-means regimes; pin
    * `requireLocal` semantics via `maxDriverRows` if downstream checks
    * replay the exact arithmetic (see [[MlOps.kmeansFit]]).
    *
    * Cost envelope: with cells ∝ corpus (k = n/cell, the parameterization
    * that keeps the PAIR stage linear), the flat nearest-centroid
    * assignment is O(n·k) = O(n²/cell) — so the ASSIGNMENT is dual-plan
    * gated (the [[GraphOps.kHopReachAuto]] discipline): while `n·k ≤
    * maxFlatAssignCost` the exact flat pass runs
    * ([[SimilarityOps.l2Assign]], bit-equal to the k-means UDF loop);
    * beyond it the learned-coarse two-level route
    * ([[SimilarityOps.l2AssignTwoLevelLearned]], O(n·√k·probe) ~ n^1.5)
    * takes over.  The two-level result is bit-equal to flat wherever the
    * routed candidate set contains the true argmin — on clusterable data
    * that is every vector (R15QuantSpec pins full agreement on separated
    * fixtures); on near-isotropic data a near-boundary vector can land
    * one cell over, bounded by the `sim_assign2_learned` distortion
    * gauge (total routed cell cost ≤ 1.05× the flat optimum; measured
    * 1.016× on the synthetic embeddings) — for dedup CELLS (not search)
    * that is the same recall trade every banded tier above makes.  When cluster structure is not required,
    * prefer the SRP-banded embedding tier ([[embCandidates]] /
    * [[embCandidatesAgainst]]): candidate generation by band collision is
    * O(n·bands) with NO centroid scan, the linear-time scale path. */
  def semanticDedup(df: DataFrame, vec: Column, id: Column, k: Int,
      minCosine: Double, seed: Long = 42L, maxIter: Int = 10,
      maxDriverRows: Long = 200000L,
      // default = the measured flat↔two-level crossover (PERF_NOTES_r15.md §1:
      // n·k = 1e8 flat 1.7 s vs two 2.2 s; 1.6e9 flat 28 s vs two 6.5 s;
      // 6.4e9 flat 91 s vs two 4 s — 22×)
      maxFlatAssignCost: Long = 200000000L, probe: Int = 3): DataFrame = {
    // the gate needs n only up to the point where BOTH thresholds are
    // already exceeded — a bounded limit(...).count() probe, never a full
    // corpus scan (on a multi-TB uncached input a plain count() would be
    // one extra complete pass just to pick a branch)
    val probeLim = math.min(Int.MaxValue.toLong - 2,
      math.max(maxFlatAssignCost / math.max(k, 1), maxDriverRows) + 1)
    val probed = df.limit(probeLim.toInt).count()
    val n = probed // exact when probed < probeLim; a lower bound otherwise
    val asg =
      if (probed < probeLim && n * k.toLong <= maxFlatAssignCost) {
        val (_, flatAsg) = MlOps.kmeansFit(df, vec, id, k, seed, maxIter,
          maxDriverRows)
        flatAsg
      } else if (n <= maxDriverRows) {
        // driver-sized corpus with a big codebook: local fit (pure CPU),
        // routed assignment over its centers
        val (centers, _) = MlOps.kmeansFit(df, vec, id, k, seed, maxIter,
          maxDriverRows)
        val spark = df.sparkSession
        import spark.implicits._
        val centDf = spark.createDataset(centers.toSeq.zipWithIndex
            .map { case (v, i) => (i.toLong, v.toSeq) })
          .toDF("centroid_id", "cv")
        SimilarityOps.l2AssignTwoLevelLearned(df, vec, id, centDf,
          col("cv"), col("centroid_id"), probe = probe, seed = seed + 7,
          knownK = centers.length.toLong)
          .select(col("vec_id"), col("centroid_id").as("cluster"))
      } else {
        // corpus past the driver too: sample-init + routed-Lloyd fit —
        // NO O(n·k) stage anywhere in fit or assignment
        val (_, routedAsg) = MlOps.kmeansFitRouted(df, vec, id, k, seed,
          maxIter, maxDriverRows, probe = probe)
        routedAsg
      }
    semanticDedupAssigned(df, vec, id, asg, minCosine)
  }

  /** Duplicate-cluster extraction: connected components over a candidate
    * pair list ((doc_a, doc_b), doc_a < doc_b — the output shape of
    * [[minhashCandidates]] / [[simhashCandidates]] / [[ngramJaccardPairs]]),
    * labeling every document in any pair with the MINIMUM doc id reachable
    * through the pair graph.  Output: (doc_id, keeper_id); `doc_id ==
    * keeper_id` marks the row to keep, everything else is a duplicate — the
    * step that turns pair lists into an actual dedup decision.
    *
    * Physical shape: iterative min-label propagation with pointer jumping —
    * each round takes the min over neighbours' labels (one shuffle on the
    * edge list) and then path-halves (label := label's label, one
    * self-join), giving O(log diameter) rounds instead of O(diameter);
    * LSH candidate clusters are near-cliques, so 2-3 rounds converge.
    * Each round's label table is persisted and the previous one released —
    * the working set is one (doc_id, keeper_id) pair per UNIQUE doc in the
    * pair list, far smaller than the corpus.  Pure integer min: the result
    * is deterministic regardless of partitioning or iteration count.
    *
    * The reference has no graph step (its dedup surface stops at exact
    * hashes); this mirrors the standard MinHash-dedup postprocessing
    * (union-find over candidate pairs). */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 25,
      maxDriverPairs: Long = 3000000L): DataFrame = {
    // persist the incoming pair plan FIRST: both union branches (and the
    // size probe) derive from the cached handle, so the candidate-pair
    // pipeline (e.g. full MinHash banding + bucket join) executes once
    val p = graft.core.CacheScope.persist(
      pairs.select(col("doc_a").cast("long").as("src"),
        col("doc_b").cast("long").as("dst")),
      eager = false)
    val nPairs = p.count() // already materialized — metadata-cheap
    if (nPairs <= maxDriverPairs) {
      // Candidate pair lists are ~duplicate-rate × corpus — driver-sized
      // far beyond the corpus sizes that need the iterative path.  Exact
      // union-find with path compression collapses the whole computation
      // into one collect + one parallelize (the distributed loop below pays
      // 4+ shuffles PER ROUND).  Same min-label semantics: each root gets
      // the minimum doc id of its component.
      val spark = pairs.sparkSession
      import spark.implicits._
      val edgesArr = p.as[(Long, Long)].collect()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      edgesArr.foreach { case (a, b) =>
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
      }
      // min-label per component: roots were merged min-wards, so find()
      // already yields the component minimum
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet.forEach(k => out += ((k, find(k))))
      return spark.createDataset(out.toSeq).toDF("doc_id", "keeper_id")
    }
    val edges = graft.core.CacheScope.persist(
      p.unionByName(p.select(col("dst").as("src"), col("src").as("dst"))),
      eager = false)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("keeper_id", col("doc_id"))
      .persist()
    var prev: DataFrame = null
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // min over neighbours' current labels
      val nbr = edges
        .join(labels.select(col("doc_id").as("dst"),
          col("keeper_id").as("dst_keeper")), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min("dst_keeper").as("nbr_min"))
      val stepped = labels.join(nbr, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("keeper_id"),
            coalesce(col("nbr_min"), col("keeper_id"))).as("keeper_id"),
          col("keeper_id").as("old_keeper"))
      // pointer jumping: keeper := keeper's keeper (halves chain length)
      val jumped = stepped
        .join(stepped.select(col("doc_id").as("keeper_id"),
          col("keeper_id").as("jump")), Seq("keeper_id"), "left")
        .select(col("doc_id"),
          coalesce(col("jump"), col("keeper_id")).as("keeper_id"),
          (coalesce(col("jump"), col("keeper_id")) =!= col("old_keeper"))
            .as("chg"))
      if (prev != null) prev.unpersist(blocking = false)
      prev = labels
      labels = jumped.persist()
      changed = labels.where(col("chg")).count()
      i += 1
    }
    if (prev != null) prev.unpersist(blocking = false)
    // hand the final table to the scope so the caller's release() drops it
    graft.core.CacheScope.register(labels)
    labels.select("doc_id", "keeper_id")
  }

  /** Duplicate-cluster size histogram: (cluster_size, n_clusters) over
    * the connected components of `pairs` — the dedup diagnostic that
    * tells a corpus run whether duplication is a long tail of pairs or a
    * few mega-clusters (boilerplate/templates), and therefore whether the
    * banding parameters or a stop-list need tuning.  Cluster labels from
    * [[dedupClusters]]; two small aggs on the duplicate-rate-sized label
    * table. */
  def clusterSizeHistogram(pairs: DataFrame): DataFrame =
    dedupClusters(pairs)
      .groupBy("keeper_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))

  /** Cross-source duplication matrix: duplicate-pair counts per unordered
    * source pair — the provenance diagnostic behind a mixture decision
    * (which crawls/snapshots mirror each other; whether within-source or
    * cross-source duplication dominates; which source pair a dedup pass
    * should anti-join first).  `pairs` is any candidate/confirmed pair
    * frame of the dedup ladder ((doc_a, doc_b)); `meta` maps ids to a
    * source/class column.
    *
    * Shape: two id-keyed joins of the dup-rate-sized pair table against
    * the meta projection (AQE broadcasts the pair side when small), then
    * one hash agg on |sources|² keys — output bounded by the source
    * vocabulary, never the corpus.  The pair is canonicalized
    * (least, greatest) so (A,B) and (B,A) collapse.
    * Output: (src_a, src_b, n_pairs). */
  def crossSourceDupMatrix(pairs: DataFrame, meta: DataFrame,
      id: Column, cls: Column): DataFrame = {
    val m = meta.select(id.cast("long").as("__mid"), cls.as("__mcls"))
    pairs.select(col("doc_a").cast("long").as("doc_a"),
        col("doc_b").cast("long").as("doc_b"))
      .join(m.select(col("__mid"), col("__mcls").as("__ca")),
        col("doc_a") === col("__mid")).drop("__mid")
      .join(m.select(col("__mid"), col("__mcls").as("__cb")),
        col("doc_b") === col("__mid")).drop("__mid")
      .groupBy(least(col("__ca"), col("__cb")).as("src_a"),
        greatest(col("__ca"), col("__cb")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** SOFT dedup: instead of dropping near-duplicates, DOWNWEIGHT them —
    * every member of a duplicate cluster of size n gets sampling weight
    * 1/n, so the cluster as a whole contributes one document's worth of
    * probability mass and no text is lost (the "soft deduplication"
    * recipe — e.g. SoftDeDup, arXiv:2401.xx pattern; also how repeated
    * crawl snapshots are equalized without discarding fresher copies).
    * Unclustered documents keep weight 1.0.
    *
    * The output column feeds [[graft.core.BlockWeightedSampling]] /
    * [[graft.ops.SplitOps]] directly as the per-row weight.
    *
    * Shape: cluster labels ([[dedupClusters]] dual plan) → one map-side-
    * combined count per cluster → broadcast-sized label table LEFT-joined
    * back to the corpus ids.  Output: (doc_id, dup_count, weight), one row
    * per input document. */
  def softDedupWeights(df: DataFrame, id: Column,
      pairs: DataFrame): DataFrame = {
    val clusters = dedupClusters(pairs)
    val sizes = clusters.groupBy("keeper_id")
      .agg(count(lit(1)).as("dup_count"))
    val labeled = clusters.join(sizes, Seq("keeper_id"))
      .select(col("doc_id"), col("dup_count"))
    df.select(id.cast("long").as("doc_id"))
      .join(labeled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_count"), lit(1L)).as("dup_count"),
        round(lit(1.0) / coalesce(col("dup_count"), lit(1L)), 6)
          .as("weight"))
  }

  /** Banding-quality report: recall/precision of the MinHash-LSH candidate
    * stage against the EXACT n-gram-Jaccard ground truth at `minJaccard` —
    * the gauge that justifies (numHashes, bands) before a 100 TB run, on a
    * sample, the same way [[graft.queries]]' `sim_rp_recall` gauges the
    * JL cut.  Ground truth restricted to the df-capped shingle vocabulary
    * ([[ngramJaccardPairs]] semantics); both sides computed with the
    * engine's own kernels, joined on the pair key.
    * Output: ONE row (n_truth, n_candidates, n_hits, recall, precision). */
  def minhashEvalReport(df: DataFrame, text: Column, id: Column,
      k: Int = 3, numHashes: Int = 16, bands: Int = 4,
      maxDocFreq: Long = 100, minJaccard: Double = 0.5): DataFrame =
    candidateRecall(ngramJaccardPairs(df, text, id, k, maxDocFreq, minJaccard),
      minhashCandidates(df, text, id, k, numHashes, bands))

  /** Ground truth + candidates → [[minhashEvalReport]]'s one-row report:
    * both are (doc_a, doc_b) pair frames (extra columns ignored), e.g. a
    * [[jaccardFromStats]] result and a landed candidate layout. */
  def candidateRecall(truth: DataFrame, candidates: DataFrame): DataFrame = {
    val t = graft.core.CacheScope.persist(
      truth.select(col("doc_a"), col("doc_b")), eager = false)
    val c = graft.core.CacheScope.persist(
      candidates.select(col("doc_a"), col("doc_b")), eager = false)
    val hits = t.join(c, Seq("doc_a", "doc_b"), "left_semi")
    t.agg(count(lit(1)).as("n_truth"))
      .crossJoin(c.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
      .select(col("n_truth"), col("n_candidates"), col("n_hits"),
        round(col("n_hits").cast("double") /
          greatest(col("n_truth"), lit(1L)), 6).as("recall"),
        round(col("n_hits").cast("double") /
          greatest(col("n_candidates"), lit(1L)), 6).as("precision"))
  }

  /** MinHash-LSH parameter tuner: the closed-form collision S-curve
    * P(candidate | jaccard=s) = 1 − (1 − s^rows)^bands evaluated over
    * every (bands, rows) factorization of each `numHashes` option — plus
    * the curve's threshold location (1/bands)^(1/rows) — so a pipeline
    * picks the banding whose threshold sits closest to its target
    * similarity BEFORE hashing a 100 TB corpus (Leskovec/Rajaraman/Ullman,
    * "Mining of Massive Datasets" §3.4.3).  Pure plan-time arithmetic
    * over a literal grid (the [[graft.core.AutoConfig]] pattern): no scan,
    * no shuffle; every double is 6-dp rounded for cross-engine parity.
    * Output: (num_hashes, bands, rows_per_band, threshold, p_at_low,
    * p_at_target, p_at_high) for s = target−0.2 / target / target+0.2. */
  def lshTuneGrid(spark: SparkSession, numHashesOptions: Seq[Int],
      target: Double): DataFrame = {
    val sqlImplicits = spark.implicits
    import sqlImplicits._
    // probe points as exact decimals, so the doubles equal what a SQL
    // mirror's literals parse to (target - 0.2 in binary would drift)
    val sLow = (BigDecimal(target) - BigDecimal("0.2")).toDouble
    val sHigh = (BigDecimal(target) + BigDecimal("0.2")).toDouble
    def p(s: Double, r: Int, b: Int): Double =
      BigDecimal(1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = for {
      n <- numHashesOptions
      b <- 1 to n
      if n % b == 0
      r = n / b
    } yield (n.toLong, b.toLong, r.toLong,
      BigDecimal(math.pow(1.0 / b, 1.0 / r))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      p(sLow, r, b), p(target, r, b), p(sHigh, r, b))
    rows.toDF("num_hashes", "bands", "rows_per_band", "threshold",
      "p_at_low", "p_at_target", "p_at_high")
  }

  /** Keeper selection by QUALITY: given duplicate-candidate pairs and a
    * per-document score, keep the HIGHEST-scoring member of each connected
    * duplicate cluster (score tie → lowest doc_id) and every untouched
    * document — the production curation rule ("keep the longest / highest-
    * quality copy"), vs [[dedupClusters]]' keep-lowest-id convention.
    *
    * `score` must be deterministic and SQL-mirrorable; an integer score
    * (length, token count, tier rank) keeps the arg-max oracle-exact with
    * no float-ordering hazard.
    *
    * Shape: cluster labels from [[dedupClusters]] (dual driver/distributed
    * plan), one hash agg per cluster for the arg-max (map-side combined),
    * and a left-anti join of the loser set against the corpus — the same
    * final shape as [[fuzzyDedup]].  Storage contract (also as in
    * [[fuzzyDedup]]): the cluster stage's CacheScope intermediates are
    * released before returning; only the materialized loser set stays
    * registered for the caller's release(). */
  def keepBestInClusters(df: DataFrame, pairs: DataFrame, id: Column,
      score: Column): DataFrame =
    graft.core.CacheScope.scoped { scope =>
      val clusters = dedupClusters(pairs)
      val scored = df.select(id.as("doc_id"), score.as("__q"))
      val best = clusters.join(scored, Seq("doc_id"))
        .groupBy(col("keeper_id"))
        .agg(max_by(col("doc_id"), struct(col("__q"), -col("doc_id")))
          .as("best_id"))
      val losers = clusters.join(best, Seq("keeper_id"))
        .where(col("doc_id") =!= col("best_id"))
        .select(col("doc_id").as("__loser_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      losers.count() // materialize BEFORE dropping the cluster-stage caches
      scope.releaseExcept(losers)
      df.join(losers, id === col("__loser_id"), "left_anti")
    }

  /** Embedding near-duplicate pairs at scale: cosine >= `minCosine`
    * restricted to pairs sharing a random-hyperplane LSH bucket
    * ([[SimilarityOps.lshBucket]]) — the 100 TB path made first-class.
    * One shuffle on the bucket id; the in-bucket self-join fan-out is the
    * bucket population (2^planes buckets), never the corpus cross product;
    * the bucket id doubles as the partition/bucketing key for repeated
    * runs.  Approximate by construction: pairs split across every bucket
    * are missed (raise `planes` ↔ recall trade). */
  def embeddingPairsBucketed(df: DataFrame, vec: Column, id: Column,
      minCosine: Double, dims: Int, planes: Int = 8,
      seed: Long = 42L): DataFrame = {
    val withB = df.select(id.cast("long").as("vid"), vec.as("v"),
      SimilarityOps.lshBucket(vec, dims, planes, seed).as("bucket"))
    withB.as("a")
      .join(withB.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("vec_a"), col("b.vid").as("vec_b"),
        round(SimilarityOps.cosine(col("a.v"), col("b.v")), 6).as("cos"))
      .where(col("cos") >= minCosine)
  }

  /** MULTI-BAND SRP-LSH embedding pairs — the minhash-banding analogue
    * for vectors: `bands` independent buckets of `planesPerBand` random-
    * hyperplane bits each; vectors colliding in ANY band become a
    * candidate, then exact cosine confirms.  Versus the single-bucket
    * [[embeddingPairsBucketed]] (one 2^planes bucket), banding trades
    * bucket population for recall: P(candidate) = 1 − (1 − s^b)^r for
    * angular similarity s — the tunable-recall knob every production
    * embedding-dedup needs (raise bands for recall, planesPerBand for
    * precision).  One shuffle on (band, key); in-band fan-out bounded by
    * the band-bucket population; id-distinct candidates before the
    * cosine so a pair colliding in several bands confirms once. */
  def embeddingPairsBanded(df: DataFrame, vec: Column, id: Column,
      minCosine: Double, dims: Int, bands: Int = 4, planesPerBand: Int = 4,
      seed: Long = 42L): DataFrame = {
    require(bands > 0 && planesPerBand > 0, "bands/planesPerBand positive")
    val v = graft.core.CacheScope.persist(
      df.select(id.cast("long").as("vid"), vec.as("v")), eager = false)
    val bandKeys = array((0 until bands).map { r =>
      (0 until planesPerBand).map { j =>
        when(SimilarityOps.planeProjection(col("v"), dims,
          r * planesPerBand + j, seed) > 0.0, lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)
    // the band table and the candidate distinct carry IDS ONLY — the
    // float payloads re-join at the confirm (the oracle's shape); pushing
    // vectors through the bucket shuffle + pair-distinct multiplied the
    // shuffle payload by the duplication rate (caught by the 10× sweep)
    val withB = graft.core.CacheScope.persist(
      v.select(col("vid"), posexplode(bandKeys))
        .select(col("vid"), col("pos").as("band"), col("col").as("key")),
      eager = false)
    val cand = withB.as("a")
      .join(withB.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("vec_a"), col("b.vid").as("vec_b"))
      .distinct()
    cand
      .join(v.select(col("vid").as("vec_a"), col("v").as("va")), Seq("vec_a"))
      .join(v.select(col("vid").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(SimilarityOps.cosine(col("va"), col("vb")), 6).as("cos"))
      .where(col("cos") >= minCosine)
  }

  /** Exact embedding near-duplicate pairs: cosine >= `minCosine` over all
    * id-ordered pairs (vec_a < vec_b).
    *
    * Two physical plans behind one signature, switched on the corpus size:
    *
    *  - `n <= maxDriverRows`: the corpus slice is broadcast once (ids
    *    ascending, norms precomputed per row — NOT per pair), the pair space
    *    is partitioned over executors by left-row index, and the O(n²·d)
    *    kernel runs as tight primitive-double loops — no per-pair array
    *    re-materialization.  This is the inner loop of the 100 TB path,
    *    which buckets with [[SimilarityOps.lshBuckets]] first and runs the
    *    kernel within each (always driver-sized) bucket.
    *  - larger corpora: a distributed self-join on `vec_a < vec_b` with the
    *    codegen'd [[graft.functions.VecKernels]] dot/norm — still O(n²·d)
    *    work (inherent to EXACT all-pairs) but executor-memory-bound, never
    *    a driver collect.
    *
    * Determinism/oracle parity (both paths): dot and norm are sequential
    * left folds from 0.0 in index order, cosine = dot / (sqrt(n2a)·sqrt(n2b)),
    * rounded half-up at 6 decimals (BigDecimal HALF_UP — bit-identical to
    * Spark's `round(col, 6)` and the DuckDB oracle's fold order). */
  def embeddingPairs(df: DataFrame, vec: Column, id: Column,
      minCosine: Double, maxDriverRows: Long = 1L << 18): DataFrame = {
    val base = df.select(id.cast("long").as("vid"),
      vec.cast("array<double>").as("v"))
    // bounded size probe: never scans more than maxDriverRows+1 rows, and
    // doubles as the small path's collect (one job instead of count+collect)
    val probe = base
      .limit(math.min(maxDriverRows + 1, Int.MaxValue.toLong).toInt).collect()
    if (probe.length > maxDriverRows) {
      import graft.functions.VecKernels
      val withN = base.withColumn("__nrm", sqrt(VecKernels.norm2(col("v"))))
      val a = withN.select(col("vid").as("vec_a"), col("v").as("__va"),
        col("__nrm").as("__na"))
      val b = withN.select(col("vid").as("vec_b"), col("v").as("__vb"),
        col("__nrm").as("__nb"))
      return a.join(b, col("vec_a") < col("vec_b"))
        .withColumn("cos", round(
          VecKernels.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
        .where(col("cos") >= minCosine)
        .select("vec_a", "vec_b", "cos")
    }
    val spark = df.sparkSession
    val collected = probe
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val ids = collected.map(_._1)
    val vecs = collected.map(_._2)
    val norms = vecs.map { a =>
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      math.sqrt(s)
    }
    val n = ids.length
    val bc = spark.sparkContext.broadcast((ids, vecs, norms))
    val slices = math.max(1, math.min(n, 2 * spark.sparkContext.defaultParallelism))
    // rounding must precede the threshold compare for oracle bit-parity,
    // but a BigDecimal per pair dominated the kernel; 6-decimal HALF_UP
    // moves a value by < 1e-6, so anything below minCosine - 1e-6 raw can
    // never round above the threshold — the expensive exact rounding runs
    // only for the tiny near/above-threshold fraction.
    val rawCut = minCosine - 1e-6
    val pairs = spark.sparkContext
      .parallelize(0 until n, slices)
      .flatMap { i =>
        val (bIds, bVecs, bNorms) = bc.value
        val a = bVecs(i)
        val d = a.length
        (i + 1 until bIds.length).iterator.flatMap { j =>
          val b = bVecs(j)
          var dot = 0.0; var k = 0
          while (k < d) { dot += a(k) * b(k); k += 1 }
          val raw = dot / (bNorms(i) * bNorms(j))
          if (raw < rawCut) Iterator.empty
          else {
            val cos = java.math.BigDecimal.valueOf(raw)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            if (cos >= minCosine) Iterator.single((bIds(i), bIds(j), cos))
            else Iterator.empty
          }
        }
      }
    spark.createDataFrame(pairs).toDF("vec_a", "vec_b", "cos")
  }

  /** Content-defined chunking over TOKEN k-grams (the rsync/FastCDC idea
    * re-expressed at token granularity so the oracle can replay it): a cut
    * lands after every k-gram whose md5 bucket ≡ 0 (mod m) — boundaries
    * depend only on local content, so an insertion early in a document
    * shifts ONE chunk instead of re-chunking everything after it (the
    * property fixed-size blocking lacks).  Expected chunk length ≈ m
    * grams.  Output: (doc_id, pos, chunk_key, n_toks), one row per chunk;
    * `chunk_key` is the house 60-bit md5 key of the chunk's token string.
    * Docs with no tokens emit nothing.
    *
    * Kernel over per-row tokens (same tokenizer as [[TextOps.tokens]]);
    * chunk rows ≈ tokens/m — the corpus token stream itself never
    * shuffles. */
  def cdcChunks(df: DataFrame, text: Column, id: Column, k: Int = 3,
      m: Int = 8): DataFrame = {
    require(k > 0 && m > 0, "k and m must be positive")
    val f = udf { (t0: String) =>
      val toks: Array[String] =
        if (t0 == null) Array.empty
        else t0.toLowerCase(java.util.Locale.ROOT).split("\\s+")
          .filter(_.nonEmpty)
      val n = toks.length
      if (n == 0) Array.empty[(Int, Long, Int)]
      else {
        val md = Md5Local.get()
        val cuts = scala.collection.mutable.ArrayBuffer[Int](0)
        var i = 0
        while (i + k <= n) {
          val gram = toks.slice(i, i + k).mkString(" ")
          if (key32(md.digest(gram.getBytes("UTF-8"))) % m == 0L)
            cuts += (i + k)
          i += 1
        }
        if (cuts.last != n) cuts += n
        val out = new scala.collection.mutable.ArrayBuffer[(Int, Long, Int)]()
        var j = 1
        var pos = 0
        while (j < cuts.length) {
          val s = cuts(j - 1); val e = cuts(j)
          if (e > s) {
            val chunk = toks.slice(s, e).mkString(" ")
            out += ((pos, key60(md.digest(chunk.getBytes("UTF-8"))), e - s))
            pos += 1
          }
          j += 1
        }
        out.toArray
      }
    }
    df.select(id.as("doc_id"), explode(f(text)).as("c"))
      .select(col("doc_id"), col("c._1").cast("long").as("pos"),
        col("c._2").as("chunk_key"), col("c._3").cast("long").as("n_toks"))
  }

  /** Per-document chunk-level dedup report over [[cdcChunks]]: chunk
    * count, chunks whose key occurs more than once CORPUS-wide (within-doc
    * repeats included), and the duplicated token-mass fraction — the
    * storage/dedup-saving estimate CDC systems report.  Two shuffles, both
    * on the chunk table (≈ tokens/m rows): the key-frequency aggregate and
    * the per-doc roll-up. */
  def cdcDedupReport(df: DataFrame, text: Column, id: Column, k: Int = 3,
      m: Int = 8): DataFrame = {
    val ch = graft.core.CacheScope.persist(cdcChunks(df, text, id, k, m),
      eager = false)
    val freq = ch.groupBy("chunk_key").agg(count(lit(1)).as("cnt"))
    ch.join(freq, "chunk_key")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cnt") > 1L, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum("n_toks").as("tok_mass"),
        sum(when(col("cnt") > 1L, col("n_toks")).otherwise(0L)).as("dup_mass"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        round(col("dup_mass").cast("double") / col("tok_mass"), 6)
          .as("dup_frac"))
  }

  /** SRP band table for the embedding index: (vec_id, band, key) under the
    * same (seed, plane) convention as [[embeddingPairsBanded]]. */
  private def embBandTable(df: DataFrame, vec: Column, id: Column,
      dims: Int, bands: Int, planesPerBand: Int, seed: Long): DataFrame = {
    val v = df.select(id.cast("long").as("vec_id"), vec.as("v"))
    val bandKeys = array((0 until bands).map { r =>
      (0 until planesPerBand).map { j =>
        when(SimilarityOps.planeProjection(col("v"), dims,
          r * planesPerBand + j, seed) > 0.0, lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)
    v.select(col("vec_id"), posexplode(bandKeys))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("key"))
  }

  /** The stored index parameters.  The seed is stored as an `Int`, so a
    * seed outside `Int` range fails: truncated, it would match a different
    * seed on read while the band keys hash the full `Long`. */
  private def embParams(dims: Int, bands: Int, planesPerBand: Int,
      seed: Long): Seq[(String, Int)] = {
    require(seed.isValidInt, s"embedding index seed $seed is outside Int range")
    Seq("dims" -> dims, "bands" -> bands, "planes" -> planesPerBand,
      "seed" -> seed.toInt)
  }

  /** Persist an embedding corpus as the SEMANTIC tier of the incremental-
    * dedup ladder: `dir/bands` holds the SRP band table (the candidate
    * pruner), `dir/vecs` the (vec_id, v) payload (the confirm side) — two
    * [[PersistedIndex]] datasets so band rows stay id-only (the float
    * payload is never multiplied by the band count).  Only a NEW shard is
    * ever hashed; the index is read, not recomputed. */
  def embIndexWrite(df: DataFrame, vec: Column, id: Column, dims: Int,
      dir: String, bands: Int = 4, planesPerBand: Int = 4,
      seed: Long = 42L): Unit = {
    val ps = embParams(dims, bands, planesPerBand, seed)
    PersistedIndex.write(
      embBandTable(df, vec, id, dims, bands, planesPerBand, seed),
      s"$dir/bands", ps)
    PersistedIndex.write(
      df.select(id.cast("long").as("vec_id"), vec.as("v")), s"$dir/vecs", ps)
  }

  /** Append a new shard's bands + vectors to a persisted embedding index
    * (parameter mismatch fails loudly — [[PersistedIndex.append]]). */
  def embIndexAppend(df: DataFrame, vec: Column, id: Column, dims: Int,
      dir: String, bands: Int = 4, planesPerBand: Int = 4,
      seed: Long = 42L): Unit = {
    val ps = embParams(dims, bands, planesPerBand, seed)
    PersistedIndex.append(
      embBandTable(df, vec, id, dims, bands, planesPerBand, seed),
      s"$dir/bands", ps)
    PersistedIndex.append(
      df.select(id.cast("long").as("vec_id"), vec.as("v")), s"$dir/vecs", ps)
  }

  /** Incremental embedding near-dup pairs of a NEW shard against a
    * persisted index plus the shard itself: any-band SRP collisions
    * pruned to candidates, exact cosine confirm against the stored
    * vectors — equal to [[embeddingPairsBanded]] over the union corpus
    * restricted to pairs touching a new vector (same banding-bounded
    * recall).  Output: (vec_a, vec_b, cos), vec_a < vec_b, cos >=
    * `minCosine`. */
  def embCandidatesAgainst(indexDir: String, newDf: DataFrame, vec: Column,
      id: Column, dims: Int, minCosine: Double, bands: Int = 4,
      planesPerBand: Int = 4, seed: Long = 42L): DataFrame = {
    val spark = newDf.sparkSession
    val ps = embParams(dims, bands, planesPerBand, seed)
    PersistedIndex.requireParams(spark, s"$indexDir/bands", ps)
    PersistedIndex.requireParams(spark, s"$indexDir/vecs", ps)
    val nb = graft.core.CacheScope.persist(
      embBandTable(newDf, vec, id, dims, bands, planesPerBand, seed),
      eager = false)
    val all = spark.read.parquet(s"$indexDir/bands").unionByName(nb)
    val cand = nb.as("a")
      .join(all.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"))
      .distinct()
    val vecs = spark.read.parquet(s"$indexDir/vecs")
      .unionByName(newDf.select(id.cast("long").as("vec_id"), vec.as("v")))
    cand
      .join(vecs.select(col("vec_id").as("vec_a"), col("v").as("va")),
        Seq("vec_a"))
      .join(vecs.select(col("vec_id").as("vec_b"), col("v").as("vb")),
        Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(SimilarityOps.cosine(col("va"), col("vb")), 6).as("cos"))
      .where(col("cos") >= minCosine)
  }

  /** Edit-distance (Levenshtein) confirm over banding candidates: the
    * character-level near-dup tier below token Jaccard — catches single-
    * character edits, OCR noise, and whitespace-preserving rewrites that
    * token-set overlap over-credits.  Distance runs on the lowercased
    * first `prefixChars` characters (Levenshtein is O(|a|·|b|); the prefix
    * cap bounds per-pair work at scale — near-dup prefixes are near-dup
    * documents at curation granularity).  `edit_sim` = 1 − dist/max(len),
    * 6-dp rounded; pairs land unfiltered so the caller picks the cut.
    *
    * Confirm-only by design (like [[tfCosineConfirm]]): the quadratic
    * kernel touches CANDIDATE pairs, never the corpus cross product.  The
    * two id-keyed joins that attach prefix text to the bounded pair table
    * are plain co-hash joins; Spark's `levenshtein` is a codegen'd
    * built-in, no UDF. */
  def editSimilarityPairs(df: DataFrame, text: Column, id: Column,
      candidates: DataFrame, prefixChars: Int = 800): DataFrame = {
    require(prefixChars > 0, "prefixChars must be positive")
    val t = df.select(id.as("__eid"),
      substring(lower(coalesce(text, lit(""))), 1, prefixChars).as("__t"))
    candidates.select("doc_a", "doc_b")
      .join(t.select(col("__eid").as("doc_a"), col("__t").as("__ta")), "doc_a")
      .join(t.select(col("__eid").as("doc_b"), col("__t").as("__tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ta"), col("__tb")).cast("long").as("edit_dist"),
        round(lit(1.0) - levenshtein(col("__ta"), col("__tb")).cast("double") /
          greatest(length(col("__ta")), length(col("__tb")), lit(1)), 6)
          .as("edit_sim"))
  }
}
