package graft.perfbench

/** Every per-layer metric a traced run reports, with its unit. A workload
  * that never calls a layer reports 0 for it. `BENCHMARK.json`'s
  * `per_layer` list names exactly these; `run.py` checks that they agree. */
object LayerCatalog {

  /** Metrics that are the summed self time of one span name. */
  val selfTimes: Seq[(String, String)] = Seq(
    "core.ScCollection.open_s" -> "core.ScCollection.open",
    "core.ScDataset.to_batches_prefetched_s" -> "core.ScDataset.toBatchesPrefetched",
    "core.PrefetchedBatches.consumer_wait_s" -> "core.PrefetchedBatches.consumer_wait",
    "perfbench.consume_s" -> "perfbench.consume",
    "perfbench.drain_loop_s" -> "core.ScDataset.drain",
    "ops.DedupOps.index_write_s" -> "ops.DedupOps.minhashIndexWrite",
    "ops.TextOps.filter_pipeline_construct_s" -> "ops.TextOps.filterPipeline",
    "ops.DedupOps.exact_dedup_construct_s" -> "ops.DedupOps.exactDedup",
    "ops.DedupOps.fuzzy_dedup_call_s" -> "ops.DedupOps.fuzzyDedup",
    "perfbench.write_kept_s" -> "perfbench.write_kept",
    "ops.DedupOps.candidates_against_s" -> "ops.DedupOps.minhashCandidatesAgainst",
    "ops.DedupOps.ingest_confirm_s" -> "ops.DedupOps.confirmJaccard",
    "ops.DedupOps.index_append_s" -> "ops.DedupOps.minhashIndexAppend",
    "ops.MultimodalOps.open_s" -> "ops.MultimodalOps.open",
    "ops.MultimodalOps.pairs_construct_s" -> "ops.MultimodalOps.aHashBandedPairs",
    "perfbench.write_pairs_s" -> "perfbench.write_pairs")

  /** Spans whose own Spark counters are reported, under a short name. */
  val sparkSpans: Seq[(String, String)] = Seq(
    "core.ScCollection.open" -> "core.ScCollection.open",
    "core.ScDataset.drain" -> "core.ScDataset.drain",
    "ops.DedupOps.fuzzyDedup" -> "ops.DedupOps.fuzzyDedup",
    "perfbench.write_kept" -> "perfbench.write_kept",
    "ops.DedupOps.candidates_against" -> "ops.DedupOps.minhashCandidatesAgainst",
    "ops.DedupOps.index_append" -> "ops.DedupOps.minhashIndexAppend",
    "perfbench.write_pairs" -> "perfbench.write_pairs")

  val sparkSpanCounters: Seq[(String, String)] = Seq(
    "executor_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_write_bytes" -> "B", "result_bytes" -> "B")

  private val direct: Seq[(String, String)] = Seq(
    // core ladder (train_loader)
    "core.SamplingStrategy.plan_construct_ms" -> "ms",
    "core.SamplingStrategy.plan_s" -> "s",
    "core.ScDataset.plan_frame_construct_ms" -> "ms",
    "core.ScDataset.plan_frame_s" -> "s",
    "core.ScDataset.assemble_construct_ms" -> "ms",
    "core.ScDataset.assemble_s" -> "s",
    "core.ScDataset.drain_s" -> "s",
    "core.PrefetchedBatches.first_batch_s" -> "s",
    "core.PrefetchedBatches.wait_ms_p99" -> "ms",
    // dedup stages and the persisted index (curate_text)
    "ops.TextOps.filter_pipeline_s" -> "s",
    "ops.DedupOps.exact_dedup_s" -> "s",
    "ops.DedupOps.minhash_candidates_s" -> "s",
    "ops.DedupOps.confirm_jaccard_s" -> "s",
    "ops.DedupOps.dedup_clusters_s" -> "s",
    "ops.DedupOps.fuzzy_dedup_s" -> "s",
    "ops.DedupOps.stages_over_one_call" -> "ratio",
    "ops.DedupOps.candidate_pairs" -> "count",
    "ops.DedupOps.confirmed_pairs" -> "count",
    "ops.DedupOps.confirm_ratio" -> "ratio",
    "ops.PersistedIndex.data_files" -> "count",
    "ops.PersistedIndex.bytes_written_per_input_byte" -> "ratio",
    // codec kernels and the media pipeline (media_neardup)
    "ops.MultimodalOps.decode_s" -> "s",
    "ops.MultimodalOps.ahash_pairs_s" -> "s") ++
    MediaNeardup.Formats.flatMap(f => Seq(
      s"ops.ImageCodec.$f.decode_mb_per_s" -> "MB/s",
      s"ops.ImageCodec.$f.alloc_bytes_per_decode" -> "B")) ++ Seq(
    // the end-to-end figures under each workload's own names
    "e2e.samples_per_s" -> "1/s",
    "e2e.first_batch_s" -> "s",
    "e2e.batch_interval_ms" -> "ms",
    "e2e.batch_wait_ms_p50" -> "ms",
    "e2e.batch_wait_ms_p99" -> "ms",
    "e2e.batch_entropy_bits" -> "bits",
    "e2e.docs_per_s" -> "1/s",
    "e2e.shard_ingest_s" -> "s",
    "e2e.dedup_recall" -> "ratio",
    "e2e.dedup_precision" -> "ratio",
    "e2e.images_per_s" -> "1/s",
    "e2e.neardup_recall" -> "ratio",
    // tracing itself
    "trace.wall_s" -> "s",
    "trace.unattributed_s" -> "s",
    "trace.overhead.items_per_s" -> "1/s",
    "trace.overhead.first_result_s" -> "s",
    "trace.overhead.call_ms_p50" -> "ms") ++
    new SparkCounters().metrics.map { case (k, _) =>
      s"spark.$k" -> (if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "B" else "count")
    }

  /** Every per-layer metric name with its unit, in report order. */
  val units: Seq[(String, String)] =
    selfTimes.map { case (m, _) => m -> "s" } ++
      sparkSpans.flatMap { case (short, _) =>
        sparkSpanCounters.map { case (k, u) => s"$short.spark.$k" -> u }
      } ++ direct

  /** The per-layer metrics of one traced run; 0 for layers it never
    * called. `native` are the workload's own end-to-end figures. */
  def values(layers: Seq[Layer], extra: Seq[(String, Double)],
      native: Seq[(String, Double)], trace: Seq[(String, Double)]): Map[String, Double] = {
    val byName = layers.map(l => l.name -> l).toMap
    val total = new SparkCounters
    layers.foreach(l => total.add(l.spark))
    val fromSpans = selfTimes.map { case (m, span) =>
      m -> byName.get(span).map(_.selfS).getOrElse(0.0)
    } ++ sparkSpans.flatMap { case (short, span) =>
      val c = byName.get(span).map(_.spark.metrics.toMap).getOrElse(Map.empty[String, Double])
      sparkSpanCounters.map { case (k, _) => s"$short.spark.$k" -> c.getOrElse(k, 0.0) }
    }
    val known = units.map(_._1).toSet
    val reported = extra ++ native.map { case (k, v) => s"e2e.$k" -> v } ++ trace ++
      total.metrics.map { case (k, v) => s"spark.$k" -> v }
    units.map(_._1 -> 0.0).toMap ++ fromSpans ++ reported.filter(r => known(r._1))
  }
}
