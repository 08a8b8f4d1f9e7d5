package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.core._
import graft.core.SamplingStrategy.Caps
import graft.ops.DedupOps
import Probe.timed

/** Scale evidence.  With no probe name, the scale-crossover bench: every
  * dual-plan operator's driver-sized fast path AND its distributed fallback
  * forced at `gateRows` (default 60 M, 100× the bench row count) through
  * per-call [[SamplingStrategy.Caps]] or the operator's own bound, the two
  * paths' checksums compared and both timed; then the sf0.1 tables
  * replicated `factor`× (default 10; id offsets keep keys unique, written
  * once to `scaledata/sf0.1x<factor>`) and the linear-path query sweep run
  * at both sizes for per-row cost parity (`gateRows` 0 runs only the
  * sweep; a third argument narrows it to the named queries).  Output:
  * `SCALEBENCH` markdown rows (BENCH_SCALE.md); give the JVM room, e.g.
  * `SPARK_DRIVER_MEM=32g`.  With a probe name, that scale-law probe from
  * [[ScaleProbes]]. */
object Scale {
  val probes: Map[String, (SparkSession, Seq[String]) => Unit] = Map(
    "sampling" -> ScaleProbes.sampling, "semantic-cells" -> ScaleProbes.semanticCells,
    "semantic-k" -> ScaleProbes.semanticK, "banding" -> ScaleProbes.banding,
    "video-neardup" -> ScaleProbes.videoNeardup, "video-ingest" -> ScaleProbes.videoIngest,
    "prefetch" -> ScaleProbes.prefetch, "codec-gauge" -> ScaleProbes.codecGauge)

  def run(a: Probe.Args): Unit = {
    val spark = Probe.session()
    a.pos.headOption.flatMap(probes.get) match {
      case Some(probe) => probe(spark, a.pos.tail)
      case None =>
        val n = a.pos.headOption.fold(60000000L)(_.toLong)
        // n = 0: skip the gate crossovers and run only the query sweep
        if (n > 0) gates(spark, n)
        sweep(spark, a.pos.lift(1).fold(10)(_.toInt), a.pos.lift(2).map(_.split(",").toSet))
    }
    spark.stop()
  }

  private def gates(spark: SparkSession, n: Long): Unit = {
    println(s"SCALEBENCH # gate crossovers at n=$n (bench sf0.1 is 600k rows)")
    println("SCALEBENCH | operator | fast path | fast s | distributed path | dist s | dist/fast | agree |")
    println("SCALEBENCH |---|---|---|---|---|---|---|")

    val base = spark.range(n).toDF("k")
      .withColumn("label", pmod(col("k") * 2654435761L, lit(1000)))
    val sc = ScCollection.fromDataFrame(base, col("k")).cached()
    sc.df.count()

    // JIT/codegen warm-up outside the timed region
    try {
      val w = ScCollection.fromDataFrame(
        spark.range(1000000L).toDF("k"), col("k"))
      BlockShuffling(blockSize = 8).plan(w, 7).count()
      CacheScope.release()
    } catch { case e: Throwable => System.err.println(s"warm-up failed: $e") }

    // a disagreement or failure prints a visible row but never aborts the
    // remaining gates / sweep — one regression must not hide all other
    // results of a long run
    def gate[A](name: String, fastLabel: String, distLabel: String,
        fast: A, dist: A)(run: A => (Long, Long)): Unit =
      try {
        val ((cntF, sumF), tF) = timed(run(fast))
        CacheScope.release()
        val ((cntD, sumD), tD) = timed(run(dist))
        CacheScope.release()
        val agree = cntF == cntD && sumF == sumD
        println(f"SCALEBENCH | $name | $fastLabel | $tF%.1f | $distLabel | $tD%.1f | ${tD / tF}%.2f | $agree (n=$cntF) |")
        if (!agree) System.err.println(
          s"$name: paths disagree: ($cntF,$sumF) vs ($cntD,$sumD)")
      } catch { case e: Throwable =>
        println(s"SCALEBENCH | $name | FAILED: ${e.toString.take(120)} |")
      }
    def sums(df: DataFrame, c: Column): (Long, Long) = {
      val p = df.agg(count(lit(1)), sum(c)).head()
      (p.getLong(0), p.getLong(1))
    }

    // 1. Block permutation offset table: driver sort+cumsum vs distributed
    //    rank+cumsum.  blockSize 8 at n rows → n/8 blocks >> the default cap.
    val nBlocks = n / 8
    gate("blockPermute (%d blocks)".format(nBlocks), "driver sort+prefix",
      "rank+cumsum", Caps(blockTable = nBlocks + 1), Caps(blockTable = 1000000L)) { caps =>
      sums(BlockShuffling(blockSize = 8, caps = caps).plan(sc, 7),
        col(SamplingStrategy.Ord) * col("k") % 1000003L)
    }

    // 2. No-replace top-k: bounded reservoir + broadcast semi join vs
    //    data-wide rank.  k = 2 M (above the default reservoir cap) when
    //    the gate rows allow it, else half of them; a cap one below k
    //    forces the data-wide side at any k.
    val kDraw = math.min(2000000L, n / 2)
    gate(s"noReplace topK (k=$kDraw of $n)", "reservoir+bcast", "data-wide rank",
      Caps(reservoir = kDraw + 1), Caps(reservoir = kDraw - 1)) { caps =>
      sums(BlockWeightedSampling(col("label") + 1, totalSize = kDraw,
        blockSize = 1024, replace = false, caps = caps).plan(sc, 17), col("k") % 1000003L)
    }

    // 3. Sample-index join: broadcast index vs shuffle join on rowId.
    //    totalSize above the default index-broadcast cap.
    val tsz = 5000000L
    gate(s"index join (totalSize=$tsz)", "broadcast index", "shuffle join",
      Caps(indexBroadcast = tsz + 1), Caps(indexBroadcast = 2000000L)) { caps =>
      sums(BlockWeightedSampling(col("label") + 1, totalSize = tsz,
        blockSize = 1024, replace = true, caps = caps).plan(sc, 11), col("k") % 1000003L)
    }

    // 4. dedupClusters: driver union-find vs distributed min-label
    //    propagation, on a pair list above the default maxDriverPairs
    //    (~571k chain components of 8 nodes → 4M edges).
    val nEdges = 4000000L
    val pairs = spark.range(nEdges)
      .select((expr("id div 7") * 8 + col("id") % 7).as("doc_a"),
        (expr("id div 7") * 8 + col("id") % 7 + 1).as("doc_b"))
    gate(s"dedupClusters ($nEdges pairs)", "driver union-find", "min-label+jump",
      nEdges + 1, 3000000L) { maxPairs =>
      sums(DedupOps.dedupClusters(pairs, maxDriverPairs = maxPairs),
        col("keeper_id") % 1000003L)
    }

    // 5. kHopReachAuto: exact distinct-pairs BFS vs bounded-state HLL
    //    sketch on a 2M-edge random graph; "agree" = same seed set and
    //    every seed's sketch estimate within max(2, 15%) of exact at
    //    both hops (the sketch is approximate by design — this is the
    //    graph_reach_sketch tolerance applied at gate scale).
    val gEdges = 2000000L
    val gVerts = 500000L
    val g = spark.range(gEdges).select(
      pmod(hash(col("id"), lit(1)), lit(gVerts)).cast("long").as("src"),
      pmod(hash(col("id"), lit(2)), lit(gVerts)).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    try {
      def reach(maxExactEdges: Long) = timed {
        val rows = graft.ops.GraphOps.kHopReachAuto(g, col("src"), col("dst"),
          hops = 2, maxExactEdges = maxExactEdges).select("seed", "n1", "n2").collect()
        CacheScope.release()
        rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      }
      val (em, tF) = reach(10000000L)
      val (sm, tD) = reach(1L)
      def near(a: Long, b: Long) =
        math.abs(a - b) <= math.max(2L, (0.15 * b).toLong)
      val agree = em.keySet == sm.keySet && em.forall { case (s, (n1, n2)) =>
        val (s1, s2) = sm(s); near(s1, n1) && near(s2, n2) }
      println(f"SCALEBENCH | kHopReachAuto ($gEdges edges) | exact BFS | $tF%.1f | HLL sketch | $tD%.1f | ${tD / tF}%.2f | $agree (n=${em.size}) |")
      if (!agree) System.err.println("kHopReachAuto paths diverge beyond tolerance")
    } catch { case e: Throwable =>
      println(s"SCALEBENCH | kHopReachAuto | FAILED: $e |")
    }
    sc.df.unpersist()
  }

  private def sweep(spark: SparkSession, factor: Int, only: Option[Set[String]]): Unit = {
    val sf01 = s"${Probe.TestData}/sf0.1"
    val scaled = s"scaledata/sf0.1x$factor"
    genScaled(spark, sf01, scaled, factor)
    println(s"SCALEBENCH # query sweep: sf0.1 vs $factor× (per-row ratio = t_big / (factor · t_small))")
    println("SCALEBENCH | query | sf0.1 s | rows | x" + factor + " s | rows | per-row ratio |")
    println("SCALEBENCH |---|---|---|---|---|---|")
    SparkEntry.pick(Sweep.filter(q => only.forall(_.contains(q)))).foreach { case (name, fn) =>
      try {
        val (r1, t1) = timed(fn(spark, sf01).count())
        CacheScope.release()
        val (r2, t2) = timed(fn(spark, scaled).count())
        CacheScope.release()
        println(f"SCALEBENCH | $name | $t1%.2f | $r1 | $t2%.2f | $r2 | ${t2 / (factor * t1)}%.2f |")
      } catch { case e: Throwable =>
        println(s"SCALEBENCH | $name | FAILED: ${e.toString.take(120)} |")
      }
    }
    println("SCALEBENCH done")
  }

  /** The table-backed queries whose per-row cost the sweep compares. */
  private val Sweep = Seq(
    "o1_streaming", "o2_block_shuffle", "o3_weighted_replace",
    "o3_weighted_noreplace", "o3_weighted_rounds", "o4_class_balanced",
    "pipeline_block", "b2_buffer_shuffle", "o5_fetch_order",
    "o3_domain_mixture", "p3_hash_split", "text_filter_pipeline",
    "text_tokens", "text_quality", "text_langid", "text_fingerprint",
    "text_vocab_topk", "pack_plan", "dd_exact", "dd_exact_keep",
    "dd_minhash_bands", "dd_minhash_pairs", "dd_simhash",
    "dd_simhash_pairs", "dd_simhash_ham", "dd_para_exact", "dd_para_dedup",
    "dd_incremental", "dd_jaccard_pairs", "dd_clusters", "dd_fuzzy_keep",
    "text_winnow", "dd_substr_pairs",
    "text_repetition", "text_token_freq", "text_quality_tiers",
    "dd_semantic_pairs", "dd_semantic_keep", "dd_spans", "dd_span_dedup",
    "dd_incremental_winnow", "text_bpe_tokens", "dd_band_owners",
    "text_contam", "text_decontam", "text_contam_spans",
    "text_pii_scan", "text_pii_redact", "ml_nb_classify",
    "text_heavy_hitters", "p3_stratified", "o3_temperature", "p3_quota",
    "text_chunks", "dd_incremental_exact", "text_approx_distinct",
    "text_tfidf", "sim_pq_codes", "sim_pq_topk",
    "text_dsir_weights", "text_dsir_select", "sim_rp_project",
    "dd_keep_longest", "text_bigram_lm", "text_dsir_incremental",
    "sim_sq_codes", "sim_sq_topk", "text_contam_rate",
    "o3_token_mixture", "o3_upsample", "text_corpus_profile",
    "p3_cluster_split", "text_quality_tiers_by", "dd_tf_cosine",
    "dd_tf_sparse", "dd_cluster_sizes", "text_length_outliers",
    "text_novelty", "dd_embed_banded",
    "sim_ivfpq_topk", "dd_soft_weights", "dd_minhash_recall",
    "dd_lsh_tune", "text_boilerplate", "text_sbo_lm", "o3_interleave",
    "mm_ahash_pairs", "sim_ivfpq_persisted", "mm_ahash_banded",
    "sim_knn_join", "emb_outliers", "dd_source_matrix", "text_oov_rate",
    "text_pmi_top", "p3_exact_split", "o5_export_shards",
    "ev_recency_weights", "sim_knn_join_persisted",
    "skew_salted_join", "a1_pivot", "ev_cohort_retention", "ev_gaps",
    "dd_edit_confirm", "text_readability", "sim_rerank",
    "ev_session_conversion", "ev_value_outliers", "p3_weighted_quota",
    "a1_length_hist",
    "text_js_divergence", "ml_knn_classify", "dd_incremental_embed",
    "a1_equidepth_hist", "o5_partitioned_read", "set_vocab_intersect",
    "set_digest_except", "ev_user_rank", "o3_bootstrap",
    "text_langid_acc", "tpch_q1", "tpch_q3", "ev_value_corr",
    "s2_schema_merge", "s3_orc_roundtrip",
    "ev_hourly_dense", "text_hll_union", "o5_compacted_write",
    "tpch_q5", "mm_frame_dedup",
    "text_source_drift", "sim_pq_error", "o5_sorted_layout",
    "ev_transitions", "text_len_pctile", "tpch_q6", "a1_cube",
    "s3_json_roundtrip", "ml_nb_confusion",
    "o5_curriculum", "text_token_downsample", "emb_drift",
    "ev_interval_lookup", "s2_corrupt_tolerant", "text_mad_gate",
    "a1_dq_report", "dd_norm_exact", "ev_funnel_rates",
    "emb_negatives", "emb_hard_negatives", "rlhf_pairs",
    "emb_triplets", "p3_split_manifest", "dd_nn_dist_hist",
    "o5_upsert", "ev_hourly_anomalies",
    "ev_session_hist", "ev_dau_wau", "dd_funnel_report",
    "sim_rerank_recall", "text_fertility", "emb_norm_hist", "pack_efficiency",
    "ev_attribution", "text_ngram_coverage",
    "ev_conversion_lag", "text_char_entropy",
    "join_size_census", "join_bloom_prune", "ev_interpolate",
    "ev_scd2", "ev_path_trigrams", "text_bm25_topk", "ev_rollup_merge",
    "o5_zorder_layout",
    "ev_trailing_features", "a1_manifest", "a1_topk_per_group",
    "emb_gram", "ev_trend_slope", "ev_value_moments",
    "text_vocab_coverage", "ev_ab_test", "a1_fd_check",
    "a1_observed_metrics", "o5_snapshot_diff", "s3_csv_roundtrip",
    "ev_item_cooc", "ev_item_gini", "text_script_profile",
    "ev_xcorr", "text_keyness", "ml_reliability", "a1_dp_counts",
    "a1_expectations", "ev_ingest_lag", "graph_pagerank",
    "ev_audience_overlap", "ev_benford", "o5_time_travel",
    "s1_gen_source", "ml_auc", "ml_pr_curve", "s3_nested_roundtrip",
    "ev_ewma", "ev_cuped", "ml_markov_backtest", "ev_entropy_rate",
    "dd_cluster_purity", "ev_item_trend",
    "tpch_q2", "tpch_q4", "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q10",
    "tpch_q11", "tpch_q12", "tpch_q13", "tpch_q14", "tpch_q15",
    "tpch_q16", "tpch_q17", "tpch_q18", "tpch_q19", "tpch_q20",
    "tpch_q21", "tpch_q22", "ev_asof_native", "graph_triangles",
    "ml_ridge", "tpch_q6_sql", "graph_reach", "graph_reach_sketch", "a1_unpivot", "ev_funnel_windowed", "ev_sessions_native", "ml_logreg", "ev_asof_forward", "ev_asof_tolerance", "ev_asof_nearest", "graph_degree_hist", "ev_item_session_cooc", "graph_components", "ev_rfm", "ml_cv_accuracy", "ml_kmeans_lloyd", "ml_kmeans_inertia",
    "emb_centroids", "sim_ivf_persisted",
    "sim_lsh_buckets", "dd_embed_lsh", "stream_tumbling", "stream_sliding",
    "stream_sessions", "stream_first_events", "u8_label_encode",
    "a1_class_count", "skew_salted_agg", "s2_union_files",
    "u5_densify_project", "u6_sparse_to_dense")

  /** Replicate every sf table `factor`× with id offsets so keys stay
    * unique.  Offsets are computed PER KEY DOMAIN from the domain's owning
    * table (custkey from customer, orderkey from orders, …), so an FK and
    * its PK always shift by the same amount even when their per-table maxes
    * differ (e.g. the highest custkey placed no orders).  Skips generation
    * when the target dir already exists. */
  private def genScaled(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    if (new java.io.File(dst).exists()) return
    // key domain -> (owning table, owning column)
    val domains: Map[String, (String, String)] = Map(
      "orderkey" -> ("orders", "o_orderkey"),
      "custkey" -> ("customer", "c_custkey"),
      "partkey" -> ("part", "p_partkey"),
      "suppkey" -> ("supplier", "s_suppkey"),
      "doc" -> ("documents", "doc_id"),
      "vec" -> ("embeddings", "vec_id"),
      "event" -> ("events", "event_id"),
      "user" -> ("events", "user_id"))
    val domainOffset: Map[String, Long] = domains.map { case (d, (t, c)) =>
      d -> (spark.read.parquet(s"$src/$t.parquet")
        .agg(max(col(c)).cast("long")).head().getLong(0) + 1L)
    }
    // table -> (column -> key domain)
    val tables: Map[String, Map[String, String]] = Map(
      "lineitem" -> Map("l_orderkey" -> "orderkey"),
      "orders" -> Map("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
      "customer" -> Map("c_custkey" -> "custkey"),
      "part" -> Map("p_partkey" -> "partkey"),
      "supplier" -> Map("s_suppkey" -> "suppkey"),
      "nation" -> Map.empty, "region" -> Map.empty,
      "documents" -> Map("doc_id" -> "doc"),
      "embeddings" -> Map("vec_id" -> "vec"),
      "events" -> Map("event_id" -> "event", "user_id" -> "user"))
    tables.foreach { case (table, colDomains) =>
      val t0 = System.nanoTime()
      val df = spark.read.parquet(s"$src/$table.parquet")
      val out =
        if (colDomains.isEmpty) df
        else (0 until factor).map { i =>
          colDomains.foldLeft(df) { case (d, (c, dom)) =>
            // preserve the source column type (offset arithmetic in long)
            d.withColumn(c, (col(c).cast("long") + lit(i * domainOffset(dom)))
              .cast(df.schema(c).dataType))
          }
        }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      System.err.println(f"generated $dst/$table.parquet in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }
}
