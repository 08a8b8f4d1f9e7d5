package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared loaders for the driver-generated test tables — one definition of
  * each table's read path instead of per-query-file copies — and the
  * derived layouts every tier shares, each landed through [[Layout.land]]
  * (build seconds booked as `index_build_s`). */
private[queries] object Tables {

  def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** The co-engagement item graph derived from events — the shared input
    * of the whole graph tier (reach, degree histogram, components,
    * triangles).  The expensive part is the user×item self-join; it runs
    * ONCE per (JVM, dir) and lands as a bucketed-by-src parquet layout
    * ([[Layout.land]]), so every graph query scans
    * one committed table instead of re-deriving pairs from the events
    * fact — at 100 TB the derivation dominates each graph query and this
    * amortizes it across the tier (and the bucket spec makes src-keyed
    * joins exchange-free on the scan side). */
  def coEdges(s: SparkSession, dir: String): DataFrame =
    Layout.land(s, dir, "co_edges", "src") {
      val item =
        nullif(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1), lit(""))
          .cast("int")
      val ui = events(s, dir)
        .select(col("user_id").as("u"), item.as("item"))
        .where(col("item").isNotNull).distinct()
      val b = ui.select(col("u"), col("item").as("item_b"))
      ui.join(b, ui("u") === b("u") && col("item") < col("item_b"))
        .select(col("item").as("src"), col("item_b").as("dst")).distinct()
    }

  /** The REAL-pixel near-duplicate pair graph — the [[coEdges]] discipline
    * applied to the codec tier: render→encode→decode every document
    * through the real codecs ([[graft.ops.ImageCodec]]) and band-join the
    * 64-bit per-pixel aHashes ONCE per (JVM, dir), landed as a bucketed
    * layout.  64 bits / 4 bands = 16-bit band keys (~65k values per
    * band — the `simhash60` discipline): in-bucket populations stay
    * near-linear as the corpus grows, where the old 16-bit shape's
    * 4-bit keys (16 values) went quadratic.
    * Every consumer (`mm_real_ahash_banded`, `graph_kcore`, any future
    * near-dup-graph query) scans the committed table instead of re-running
    * the per-document decode UDF and the banded self-join — at 100 TB the
    * derivation dominates each individual query and this amortizes it
    * across the tier.
    *
    * Columns: (doc_a, doc_b, hamming), doc_a < doc_b, hamming ≤ 3. */
  def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    Layout.land(s, dir, "neardup_pairs", "doc_a") {
      val toImg = udf((id: Long, text: String) =>
        graft.ops.ImageCodec.grayFromBytes(8, 8,
          graft.ops.MultimodalOps.asciiBytes(text), id % 2 == 1))
      val decoded = graft.ops.MultimodalOps.decodeWith(
        docs(s, dir).withColumn("payload",
          toImg(col("doc_id"), col("text"))),
        col("payload"), col("doc_id"),
        graft.ops.ImageCodec.kernel(8, 8)).toDF()
      graft.ops.MultimodalOps.aHashBandedPairs(decoded,
        col("doc_id"), bits = 64, bands = 4, maxHamming = 3)
    }

  /** MinHash-LSH candidate pairs at the engine's standard document-dedup
    * parameters (word-3-shingles, 16 hashes, 4 bands) over the FULL
    * documents table — the [[coEdges]] discipline applied to the dedup
    * tier.  Ten-plus registered queries consume exactly this pair set
    * (cluster extraction, purity/size rollups, TF/edit/Jaccard confirm
    * kernels, leakage-safe splits, provenance matrices, soft weights,
    * the fuzzy keeper pipeline); each used to re-run the signature
    * kernel and the band self-join from scratch.  The derivation now
    * runs ONCE per (JVM, dir) and lands as a bucketed layout the
    * consumers scan — at 100 TB the signature pass over the corpus
    * dominates every one of those queries, and a production curation
    * run lands the band/pair table once and fans every downstream stage
    * off it.
    *
    * Columns: (doc_a, doc_b) distinct, doc_a < doc_b — bit-identical to
    * `DedupOps.minhashCandidates(docs, text, doc_id, 3, 16, 4)` (parquet
    * round-trips longs exactly; row order is immaterial to every
    * consumer, all of which aggregate, join, or cluster the SET). */
  def minhashCands(s: SparkSession, dir: String): DataFrame =
    Layout.land(s, dir, "minhash_cands", "doc_a") {
      graft.ops.DedupOps.minhashCandidates(docs(s, dir),
        col("text"), col("doc_id"), k = 3, numHashes = 16, bands = 4)
    }

  /** The corpus's winnow position-aggregate table at the span tier's
    * standard parameters (k=25-char grams, window w=4) — landed once per
    * (JVM, dir), the [[minhashCands]] discipline applied to the
    * substring tier.  Four registered queries (shared spans, span-cut
    * text rebuild, substring candidate pairs, contamination spans'
    * corpus side) each re-ran the fingerprint kernel — one md5 digest
    * per char position, the tier's dominant cost — over the same
    * documents.  Columns: (doc_id, fp, ps); longs and long arrays
    * round-trip parquet exactly, so consumers see the identical table.
    * Bucketed by fp: the candidate self-join and the df-cap census both
    * key on it. */
  def winnowPosAgg(s: SparkSession, dir: String): DataFrame =
    Layout.land(s, dir, "winnow_posagg", "fp") {
      graft.ops.DedupOps.winnowPosAgg(docs(s, dir),
        col("text"), col("doc_id"), k = 25, w = 4)
    }

  /** The word-3-gram pair-statistics table (doc_a, doc_b, common, size_a,
    * size_b) at the standard df-cap (100) — the shared base of the n-gram
    * similarity coefficients (Jaccard pairs, containment pairs, the
    * banding-recall report's ground truth).  Landed once per (JVM, dir):
    * the per-query cost was one md5 per distinct shingle per document
    * plus the sorted posting walk, identical in all three queries.  All
    * columns are longs — exact parquet round-trip. */
  def ngramPairStats(s: SparkSession, dir: String): DataFrame =
    Layout.land(s, dir, "ngram_pairstats", "doc_a") {
      graft.ops.DedupOps.ngramPairStats(docs(s, dir),
        col("text"), col("doc_id"), k = 3, maxDocFreq = 100)
    }

  /** SRP-banded embedding near-dup pairs (vec_a, vec_b, cos) at the
    * permissive threshold 0.2 over the embeddings table — landed once per
    * (JVM, dir).  Both banded-embedding queries run the identical SRP
    * banding + candidate join + cosine confirm and differ only in the
    * final threshold (0.2 histogram vs 0.4 pair list), so the 0.2 table
    * subsumes both: a consumer at a higher threshold post-filters on the
    * stored 6-dp cosine (doubles round-trip parquet bit-exactly). */
  def embBandedPairs02(s: SparkSession, dir: String): DataFrame =
    Layout.land(s, dir, "emb_banded02", "vec_a") {
      graft.ops.DedupOps.embeddingPairsBanded(emb(s, dir),
        col("embedding"), col("vec_id"), minCosine = 0.2, dims = 64)
    }

  /** The kNN label predictions for the standard evaluation slice
    * (queries = vec_id < 200, k = 10 over the embeddings corpus) —
    * (query_id, pred_label, votes), landed once per (JVM, dir).  The
    * three classifier-evaluation queries (exact AUC, PR curve,
    * reliability diagram) consume exactly this prediction table and each
    * re-ran the brute top-k + vote argmax; at scale the prediction pass
    * is THE cost and an evaluation suite scores one landed prediction
    * set.  Longs and label strings round-trip parquet exactly. */
  def knnPred200(s: SparkSession, dir: String): DataFrame =
    Layout.land(s, dir, "knn_pred200", "query_id") {
      val e = emb(s, dir)
      graft.ops.MlOps.knnClassify(e, col("embedding"),
        col("vec_id"), col("label"),
        e.where(col("vec_id") < 200), col("embedding"), col("vec_id"),
        k = 10)
    }

  /** IVF hard negatives at the standard contrastive parameters (every
    * vector a query, 32 fixed centroids, k=3, nprobe=2) — (query_id,
    * neighbor_id, cos, rank), landed once per (JVM, dir).  Both the
    * hard-negative query and the contrastive-curation pipeline run
    * exactly this mining pass; at scale the mining join is the pipeline's
    * dominant stage and a curation run mines once, then derives margins,
    * curricula, and triplets from the landed set.  Longs + 6-dp cosine
    * doubles round-trip parquet exactly. */
  def hardNegIvf32(s: SparkSession, dir: String): DataFrame =
    Layout.land(s, dir, "hardneg_ivf32", "query_id") {
      val e = emb(s, dir)
      graft.ops.SimilarityOps.hardNegativesIvf(e,
        col("embedding"), col("vec_id"), col("label"),
        e, col("embedding"), col("vec_id"), col("label"),
        e.where(col("vec_id") < 32), col("embedding"), col("vec_id"),
        k = 3, nprobe = 2)
    }

  /** DSIR importance weights against the src0 target distribution —
    * (doc_id, n_tokens, log_w), landed once per (JVM, dir).  The weights
    * query and the top-n selection query run the identical model build +
    * scoring pass; log_w is integer micro-units / 1e6, so the double
    * round-trips parquet exactly. */
  def dsirWeightsSrc0(s: SparkSession, dir: String): DataFrame =
    Layout.land(s, dir, "dsir_w_src0", "doc_id") {
      val d = docs(s, dir)
      graft.ops.TextOps.dsirWeights(d,
        d.where(col("source") === "src0"), col("text"), col("doc_id"))
    }

  /** events.parquet has shipped with two physical types for `ts` across
    * driver testdata generations: TIMESTAMP(NANOS) — which Spark's
    * vectorized reader rejects, so `nanosAsLong=true` surfaces it as a
    * BIGINT of nanos — and plain timestamp[us], which loads as a native
    * TimestampType. Branch on the *loaded* dtype so both generations read
    * to the same microsecond-precision timestamp column.
    *
    * `nanosAsLong` is a runtime-settable SQL conf; Verify/Bench also set it
    * at session build, but it is (idempotently) re-asserted here so the
    * loader stays correct under any caller-provided session (specs build
    * their own). */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // non-UTC-adjusted parquet loads as NTZ; downstream window/epoch
        // math needs TIMESTAMP.  Under the UTC session timezone (set by
        // Verify/Bench and the loader contract) the cast is instant-exact
        // and matches DuckDB's naive-as-UTC reading of the same file.
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already an instant timestamp — use as-is
    }
  }
}
