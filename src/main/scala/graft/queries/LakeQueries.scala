package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._
import graft.functions.TopKAgg
import graft.ops._
import graft.streaming.StreamingOps

/** Storage and lake layouts: partitioned, sorted, bucketed and z-ordered
  * writes, format round trips, compaction, time travel, change feeds,
  * streaming ingest (`stream`), audit manifests (`a1`) and the `s1`–`s3`
  * and `o5` layout queries.  Names: `o5`, `s1`–`s3`, `stream`, `a1`. */
object LakeQueries extends QuerySet {

  import Tables.events
  import SamplingQueries.{RankedCte, li}

  private def dayEvents(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("day",
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
      .withColumn("vmic",
        floor(col("value") * lit(1000000.0)).cast("long"))
      .select("event_id", "event_type", "day", "vmic")

  private val cut1 = 19732L // 2024-01-10

  private val cut2 = 19742L // 2024-01-20

  private def buildSliced(s: org.apache.spark.sql.SparkSession, dir: String,
      p: String): Unit =
    if (LayoutOps.latestVersion(s, p) < 0) {
      val e = dayEvents(s, dir)
      LayoutOps.commitAppend(e.where(col("day") < cut1), p,
        statsCols = Seq("day"))
      LayoutOps.commitAppend(
        e.where(col("day") >= cut1 && col("day") < cut2), p,
        statsCols = Seq("day"))
      LayoutOps.commitAppend(e.where(col("day") >= cut2), p,
        statsCols = Seq("day"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S1: positional batched scan — rank + row-range filter
    "s1_scan" -> ((s, dir) =>
      li(s, dir).df
        .select(col("row_id"), col("l_orderkey"), col("l_linenumber"))
        .where(col("row_id").between(100, 199))),

    // A1: class/frequency count
    "a1_class_count" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy("lang").agg(count(lit(1)).as("cnt"))),

    // Streaming: tumbling 1-hour windows per event type
    "stream_tumbling" -> ((s, dir) =>
      StreamingOps.tumblingCounts(events(s, dir), "1 hour")),

    // Streaming: 30-minute-gap sessionization
    "stream_sessions" -> ((s, dir) =>
      StreamingOps.sessionize(events(s, dir), gapMs = 1800000L)),

    // S2: ordered union of per-file collections with rowId offsets (the
    // AnnCollection analogue — same file read twice stands in for 2 files)
    "s2_union_files" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet").select("c_custkey")
      ScCollection.union(Seq("f0" -> cust, "f1" -> cust), Seq(col("c_custkey")))
        .df.select(col("row_id"), col("source_file"), col("c_custkey"))
    }),

    // O5: sort-before-fetch — within every fetch window the storage I/O
    // order is ascending row_id regardless of the shuffled epoch order.
    // Built from the strategy plan directly: the within-fetch yield
    // permutation is irrelevant to I/O order, so its window is skipped.
    "o5_fetch_order" -> ((s, dir) => {
      val plan = BlockShuffling(blockSize = 32, rng = Rng.Md5)
        .plan(li(s, dir), 42L)
        .withColumn("fetch_id", floor(col(SamplingStrategy.Ord) / 128))
      val w = Window.partitionBy("fetch_id").orderBy("row_id")
      plan
        .withColumn("io_pos", (row_number().over(w) - 1).cast("long"))
        .select(col("l_orderkey"), col("l_linenumber"), col("fetch_id"),
          col("io_pos"))
    }),

    // Streaming: sliding 1-hour windows every 30 minutes
    "stream_sliding" -> ((s, dir) =>
      StreamingOps.slidingCounts(events(s, dir), "1 hour", "30 minutes")),

    // First-occurrence dedup per (user, event_type): batch semantics of
    // streaming dropDuplicates, as a min_by hash aggregate
    "stream_first_events" -> ((s, dir) =>
      StreamingOps.firstEvents(events(s, dir))),

    // Deterministic shuffled shard layout for training export: 8 shards,
    // hash-assigned, hash-ordered within shard (WebDataset convention)
    "o5_export_shards" -> ((s, dir) =>
      SplitOps.exportShards(Tables.docs(s, dir).select(col("doc_id")),
        col("doc_id"), seed = 5L, nShards = 8)),

    // Hierarchical corpus census: doc/char totals at (source, lang),
    // per-source subtotal, and grand total in ONE pass — Spark's rollup
    // plans a single Expand+aggregate, not three scans
    "a1_rollup" -> ((s, dir) =>
      Tables.docs(s, dir).rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))),

    // Pivot census: docs per (source × lang) as a wide table — one
    // Expand-free pivot aggregate, fixed column set for determinism
    "a1_pivot" -> ((s, dir) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val p = Tables.docs(s, dir).groupBy("source")
        .pivot("lang", langs).agg(count(lit(1)))
      p.select(col("source") +:
        langs.map(l => coalesce(col(l), lit(0L)).as(l)): _*)
    }),

    // Equi-width doc-length histogram: 100-char buckets, top-coded at 19
    "a1_length_hist" -> ((s, dir) =>
      Tables.docs(s, dir)
        .groupBy(least(floor(col("n_chars") / 100), lit(19L)).cast("long")
          .as("bucket"))
        .agg(count(lit(1)).as("n_docs"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))),

    // Equi-depth histogram: 10 equal-count doc-length bins via the
    // range-partitioned Ranker (no single-partition window)
    "a1_equidepth_hist" -> ((s, dir) => {
      val d = Tables.docs(s, dir).select("doc_id", "n_chars")
      val r = graft.core.Ranker.withRank(d, "rn", col("n_chars"),
        col("doc_id"))
      r.crossJoin(broadcast(r.agg(count(lit(1)).as("n"))))
        .groupBy(expr("(rn * 10) div n").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
    }),

    // Hive-partitioned layout + pruned read: write docs partitioned by
    // lang, read ONLY the en directory (PartitionFilters — zero bytes of
    // the other languages opened), aggregate per source
    "o5_partitioned_read" -> ((s, dir) => {
      val path = Tables.scratch(dir, "part_docs")
      LayoutOps.writePartitioned(Tables.docs(s, dir), "lang", path)
      LayoutOps.readPartition(s, path, "lang", "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    }),

    // Schema evolution: two shards with drifting schemas (one lacks lang)
    // read as ONE frame under mergeSchema — missing columns read as null
    "s2_schema_merge" -> ((s, dir) => {
      val base = Tables.scratch(dir, "merge")
      val d = Tables.docs(s, dir)
      d.select("doc_id", "n_chars")
        .write.mode("overwrite").parquet(s"$base/s1")
      d.select("doc_id", "n_chars", "lang")
        .write.mode("overwrite").parquet(s"$base/s2")
      s.read.option("mergeSchema", "true").parquet(s"$base/s1", s"$base/s2")
        .agg(count(lit(1)).as("n_rows"),
          count(col("lang")).as("n_with_lang"),
          sum("n_chars").as("chars"))
    }),

    // Multi-format source: ORC round-trip (write once, scan with the ORC
    // reader) — same per-lang census as the parquet path
    "s3_orc_roundtrip" -> ((s, dir) => {
      val p = Tables.scratch(dir, "orc_docs")
      Tables.docs(s, dir).write.mode("overwrite").orc(p)
      s.read.orc(p).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    }),

    // Compaction contract: the corpus re-lands as exactly 3 files and
    // loses no rows — n_files observed via input_file_name() on re-scan
    "o5_compacted_write" -> ((s, dir) => {
      val p = Tables.scratch(dir, "compact_docs")
      LayoutOps.compactWrite(Tables.docs(s, dir), nFiles = 3, p)
      s.read.parquet(p)
        .select(input_file_name().as("f"), col("n_chars"))
        .agg(countDistinct(col("f")).as("n_files"),
          count(lit(1)).as("n_rows"), sum("n_chars").as("chars"))
    }),

    // Zone-map layout: docs range-partitioned + sorted on n_chars, then a
    // band predicate read back — the filter reaches the scan as
    // PushedFilters against tight per-file/row-group stats
    "o5_sorted_layout" -> ((s, dir) => {
      val p = Tables.scratch(dir, "sorted_docs")
      LayoutOps.writeSorted(Tables.docs(s, dir), "n_chars", nParts = 4, p)
      s.read.parquet(p)
        .where(col("n_chars") >= 500 && col("n_chars") <= 900)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    }),

    // Full cube census: every (source, lang) subtotal combination in one
    // Expand+aggregate pass — the last §2.7 grouping-sets variant
    "a1_cube" -> ((s, dir) =>
      Tables.docs(s, dir).cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))),

    // JSON-lines source round-trip (explicit schema — no inference
    // drift); same per-source census as the parquet path
    "s3_json_roundtrip" -> ((s, dir) => {
      val p = Tables.scratch(dir, "json_docs")
      val d = Tables.docs(s, dir)
      d.write.mode("overwrite").json(p)
      s.read.schema(d.schema).json(p).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    }),

    // Curriculum order: quality tiers first (tier 0 = best), hash-shuffled
    // within tier — the easy-to-hard schedule as one global Ranker pass
    "o5_curriculum" -> ((s, dir) => {
      val t = TextOps.qualityTiers(Tables.docs(s, dir), col("text"),
        col("doc_id"), tiers = 3)
      val key = graft.core.Rng.Md5.sortKey(31L, "curr", col("doc_id"))
      graft.core.Ranker.withRank(
          t.select(col("doc_id"), col("tier"), key.as("__k")),
          "pos", col("tier"), col("__k"), col("doc_id"))
        .select("doc_id", "tier", "pos")
    }),

    // Corrupt-file tolerance: a junk file dropped into the table directory
    // is skipped under ignoreCorruptFiles — the census still matches the
    // clean corpus (data-lake resilience: one bad shard must not kill a
    // 100 TB scan)
    "s2_corrupt_tolerant" -> ((s, dir) => {
      val p = Tables.scratch(dir, "corrupt_docs")
      val d = Tables.docs(s, dir)
      d.write.mode("overwrite").parquet(p)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$p/part-junk.parquet"),
        "this is not a parquet file".getBytes("UTF-8"))
      s.read.option("ignoreCorruptFiles", "true").parquet(p)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    }),

    // Data-quality profile card: per-column null counts, domain
    // cardinalities, and value bounds in ONE map-side-combined aggregate
    // — the expectations report a pipeline run opens with
    "a1_dq_report" -> ((s, dir) =>
      Tables.docs(s, dir).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("null_text"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("null_lang"),
        sum(when(col("source").isNull, 1L).otherwise(0L)).as("null_source"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
        sum(when(col("n_chars") < 0, 1L).otherwise(0L)).as("neg_chars"))),

    // SCD1 merge: an update batch (every 5th doc, lengths re-measured)
    // upserted into the base snapshot — updated keys take the new row,
    // the rest survive, nothing duplicates
    "o5_upsert" -> ((s, dir) => {
      val base = Tables.docs(s, dir).select("doc_id", "n_chars")
      val updates = base.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), (col("n_chars") + 1000L).as("n_chars"))
      LayoutOps.upsert(base, updates, "doc_id")
    }),

    // Z-order clustered lake: events written range-partitioned + sorted on
    // the Morton interleave of (user bucket, hour bucket), then a box
    // filter on BOTH dimensions read back off the layout — results must
    // equal the same filter over the raw table (layout-invariance).
    "o5_zorder_layout" -> ((s, dir) => {
      val p = Tables.scratch(dir, "zorder_events")
      val e = Tables.events(s, dir)
        .withColumn("ub", pmod(col("user_id"), lit(1024)).cast("long"))
        .withColumn("hb",
          pmod(floor(unix_micros(col("ts")) / lit(3600000000L)), lit(1024))
            .cast("long"))
      LayoutOps.writeZOrdered(e, col("ub"), col("hb"), bits = 10,
        nParts = 8, p)
      s.read.parquet(p)
        .where(col("ub") < 256 && col("hb") >= 256 && col("hb") < 512)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * lit(1000000.0)).cast("long")).as("vmic"))
    }),

    // Per-source tamper-evident manifest: row count + order-independent
    // XOR of md5-derived row digests — replicas compare manifests, not
    // bytes.
    "a1_manifest" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      LayoutOps.auditManifest(d, col("source"),
        LayoutOps.rowDigest(col("doc_id"), col("text")))
    }),

    // Top-3 longest docs per language via the bounded-state TopKAgg — the
    // map-side-combinable alternative to a window rank over the corpus.
    "a1_topk_per_group" -> ((s, dir) => {
      val topk = udaf(new TopKAgg(3))
      Tables.docs(s, dir)
        .groupBy("lang")
        .agg(topk(col("n_chars"), col("doc_id")).as("ids"))
        .select(col("lang"), posexplode(col("ids")).as(Seq("rank", "doc_id")))
    }),

    // Functional-dependency profile: does lang determine source (and
    // vice versa), is doc_id a key for text — the schema-discovery card
    // behind join-key and partition-column choices.
    "a1_fd_check" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      def fd(name: String, det: org.apache.spark.sql.Column,
          dep: org.apache.spark.sql.Column): DataFrame =
        d.agg(countDistinct(det).as("n_det"),
            countDistinct(det, dep).as("n_pairs"))
          .select(lit(name).as("fd"), col("n_det"), col("n_pairs"),
            (col("n_pairs") === col("n_det")).as("holds"))
      fd("lang->source", col("lang"), col("source"))
        .unionByName(fd("source->lang", col("source"), col("lang")))
        .unionByName(fd("doc_id->text", col("doc_id"), col("text")))
    }),

    // Pipeline observability with zero extra passes: `observe` collects
    // pre-gate count / pass-count / char mass DURING the same scan that
    // applies the quality gate — at 100 TB the difference between "free
    // metrics" and "a second full read".  (CollectMetrics operator; the
    // Observation helper blocks on the action's listener event.)
    "a1_observed_metrics" -> ((s, dir) => {
      import s.implicits._
      val obs = new org.apache.spark.sql.Observation()
      val gated = Tables.docs(s, dir)
        .observe(obs,
          count(lit(1)).as("n_seen"),
          sum(when(col("n_chars") >= 200, 1L).otherwise(0L)).as("n_pass"),
          sum("n_chars").as("chars_seen"))
        .where(col("n_chars") >= 200)
      val kept = gated.count()
      val m = obs.get
      Seq((m("n_seen").asInstanceOf[Long], m("n_pass").asInstanceOf[Long],
        m("chars_seen").asInstanceOf[Long], kept))
        .toDF("n_seen", "n_pass", "chars_seen", "n_kept")
    }),

    // Snapshot diff of two simulated lake versions (drops on both sides,
    // value edits on B): one full-outer key join over integer row digests
    // classifies added / removed / changed / unchanged — the audit before
    // a replace-table swap.
    "o5_snapshot_diff" -> ((s, dir) => {
      val base = Tables.events(s, dir)
        .withColumn("vm", round(col("value") * 1000).cast("long"))
      val a = base.where(pmod(col("event_id"), lit(11)) =!= 0)
        .select(col("event_id"),
          LayoutOps.rowDigest(col("event_id"), col("vm")).as("ha"))
      val b = base.where(pmod(col("event_id"), lit(13)) =!= 0)
        .withColumn("vm2", when(pmod(col("event_id"), lit(5)) === 0,
          col("vm") + 1000L).otherwise(col("vm")))
        .select(col("event_id"),
          LayoutOps.rowDigest(col("event_id"), col("vm2")).as("hb"))
      a.join(b, Seq("event_id"), "full_outer")
        .select(when(col("ha").isNull, "added")
          .when(col("hb").isNull, "removed")
          .when(col("ha") =!= col("hb"), "changed")
          .otherwise("unchanged").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n"))
    }),

    // CSV round-trip of the documents dimension columns (any-format
    // source contract, S3 row): write CSV with header, read it back with
    // an explicit schema, aggregate.
    "s3_csv_roundtrip" -> ((s, dir) => {
      val p = Tables.scratch(dir, "csv_docs")
      Tables.docs(s, dir).select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").option("header", "true").csv(p)
      s.read.option("header", "true")
        .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
        .csv(p)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    }),

    // Per-language counts with Laplace(1/ε) noise, ε = 0.5 — the census a
    // pipeline can publish outside the data boundary.  Seeded noise for
    // oracle reproducibility (production draws fresh randomness).
    "a1_dp_counts" -> ((s, dir) =>
      PiiOps.dpNoisyCounts(Tables.docs(s, dir), col("lang"),
        epsilon = 0.5, seed = 42L)),

    // The expectations a pipeline run opens with, as data: referential
    // integrity (FK ⊆ PK via anti-join counts — the only corpus-wide work,
    // one key shuffle each), domain ranges, and key uniqueness.  At 100 TB
    // each check is a count, not a materialization; the suite is the
    // contract between producer and consumer tables.
    "a1_expectations" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val lineitem = s.read.parquet(s"$dir/lineitem.parquet")
      val docs = Tables.docs(s, dir)
      def check(name: String, violations: DataFrame): DataFrame =
        violations.agg(count(lit(1)).as("n_violations"))
          .select(lit(name).as("check"), col("n_violations"),
            (col("n_violations") === 0L).as("pass"))
      check("orders.custkey_fk",
        orders.join(customer,
          orders("o_custkey") === customer("c_custkey"), "left_anti"))
        .unionByName(check("lineitem.orderkey_fk",
          lineitem.join(orders,
            lineitem("l_orderkey") === orders("o_orderkey"), "left_anti")))
        .unionByName(check("orders.totalprice_nonneg",
          orders.where(col("o_totalprice") < 0)))
        .unionByName(check("lineitem.discount_range",
          lineitem.where(col("l_discount") < 0 || col("l_discount") > 1)))
        .unionByName(check("documents.doc_id_unique",
          docs.groupBy("doc_id").agg(count(lit(1)).as("c"))
            .where(col("c") > 1)))
    }),

    // Transaction-log time travel: commit v0 = first half of the month,
    // append v1 = the rest, then read BOTH snapshots back and aggregate —
    // v0 must still show the old state after v1 lands (no file is ever
    // rewritten; the append commit cost O(new data)).
    "o5_time_travel" -> ((s, dir) => {
      val p = Tables.scratch(dir, "tt_events")
      val e = Tables.events(s, dir)
        .withColumn("day",
          floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
        .withColumn("vmic",
          floor(col("value") * lit(1000000.0)).cast("long"))
        .select("event_id", "event_type", "day", "vmic")
      val cut = 19737L  // 2024-01-15
      if (LayoutOps.latestVersion(s, p) < 1) {
        LayoutOps.commitAppend(e.where(col("day") < cut), p)
        LayoutOps.commitAppend(e.where(col("day") >= cut), p)
      }
      def agg(v: Int): DataFrame =
        LayoutOps.readVersion(s, p, v)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
          .withColumn("version", lit(v))
      agg(0).unionByName(agg(1))
    }),

    // Read 100k rows from the custom DSv2 connector (8 input partitions)
    // and aggregate — the oracle REGENERATES the table in SQL from the
    // same integer formulas, so the connector's full stack (planning,
    // partitioning, row emission) is value-checked, not smoke-tested.
    "s1_gen_source" -> ((s, _) =>
      s.read.format("graft.sources.GraftGenSource")
        .option("rows", "100000").option("parts", "8").option("seed", "7")
        .load()
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("id").as("id_sum"),
          sum(floor(col("val") * lit(1000.0)).cast("long")).as("val_mil"))),

    // Nest → write → read → un-nest must lose nothing: events grouped
    // into per-user ARRAY<STRUCT> rows plus a MAP of per-type counts,
    // written as nested parquet, read back, exploded, and aggregated —
    // results must equal the flat aggregation that never left row form.
    // The columnar-nesting contract (repetition/definition levels, map
    // key-value pages) a multimodal/telemetry lake depends on.
    "s3_nested_roundtrip" -> ((s, dir) => {
      val p = Tables.scratch(dir, "nested_events")
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          col("event_id"), floor(col("value") * lit(1000000.0)).cast("long")
            .as("vmic"))
      val nested = e.groupBy("user_id")
        .agg(collect_list(struct(col("event_id"), col("event_type"),
          col("vmic"))).as("events"))
      val withMap = nested.join(
        e.groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
          .groupBy("user_id")
          .agg(map_from_entries(collect_list(struct(col("event_type"),
            col("n")))).as("type_counts")),
        "user_id")
      withMap.write.mode("overwrite").parquet(p)
      val back = s.read.parquet(p)
      val exploded = back.select(col("user_id"),
          explode(col("events")).as("ev"))
        .select(col("ev.event_type").as("event_type"),
          col("ev.vmic").as("vmic"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
      val fromMap = back.select(explode(col("type_counts"))
          .as(Seq("event_type", "n")))
        .groupBy("event_type").agg(sum("n").as("n_from_map"))
      exploded.join(fromMap, "event_type")
    }),

    // Wide→long reshape: the per-language documents census melted into
    // (lang, metric, value) rows with Spark's native unpivot
    "a1_unpivot" -> ((s, dir) => {
      val census = Tables.docs(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
      census.unpivot(Array(col("lang")),
        Array(col("n_docs").cast("long"), col("chars").cast("long")),
        "metric", "value")
    }),

    // Micro-batch-fragmented lake, then OPTIMIZE: snapshot v2 (three
    // directories) and v3 (compacted, one directory) must aggregate
    // identically — compaction moves bytes, never rows.
    "o5_compact_travel" -> ((s, dir) => {
      val p = Tables.scratch(dir, "ct_events")
      buildSliced(s, dir, p)
      if (LayoutOps.latestVersion(s, p) == 2)
        LayoutOps.compactSnapshot(s, p, targetFiles = 2,
          statsCols = Seq("day"))
      prePostTotals(s, p)
    }),

    // Day-ranged read through manifest-stats pruning: of the three
    // day-sliced commits only the middle one intersects 19735..19739,
    // so exactly two directories MUST be skipped without being listed —
    // enforced here, value-checked by the oracle.
    "o5_stats_skip" -> ((s, dir) => {
      val p = Tables.scratch(dir, "ss_events")
      buildSliced(s, dir, p)
      val v = LayoutOps.latestVersion(s, p)
      val (_, skipped) = LayoutOps.rangeDirs(s, p, v, "day", 19735L, 19739L)
      require(skipped.size == 2,
        s"manifest stats must skip the two out-of-range commits, " +
          s"skipped ${skipped.size}")
      LayoutOps.readVersionRange(s, p, v, "day", 19735L, 19739L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    }),

    // The same day-range read with NO pruning hint: a plain `.where` on
    // the Catalyst-integrated snapshot (readVersionIndexed) must make
    // the PLANNER skip the two out-of-range commits via the manifest
    // stats — enforced by probing the index's pruning census after a
    // real scan — and the values must match the relational oracle.
    "o5_pushdown_skip" -> ((s, dir) => {
      val p = Tables.scratch(dir, "ss_events")
      buildSliced(s, dir, p)
      val v = LayoutOps.latestVersion(s, p)
      val (snap, idx) = LayoutOps.indexedRead(s, p, v)
      val ranged = snap.where(col("day").between(19735L, 19739L))
      ranged.count() // force one planned scan to observe the census
      require(idx.lastPruning == (1, 2),
        s"planner-driven stats pruning must keep 1 of 3 commits, " +
          s"got ${idx.lastPruning}")
      require(idx.listedDirCount == 1,
        s"skipped commits must never be listed, " +
          s"listed ${idx.listedDirCount}")
      ranged.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    }),

    // Exactly-once lake->lake mirror driven in two catch-ups: stage the
    // day-sliced commits into a source lake, mirror after each stage
    // (with an idempotent replay in between), and the MIRROR's snapshot
    // must equal the full relational answer.
    "o5_tail_mirror" -> ((s, dir) => {
      val src = Tables.scratch(dir, "tm_src")
      val dst = Tables.scratch(dir, "tm_dst")
      if (LayoutOps.latestVersion(s, src) < 0) {
        val e = dayEvents(s, dir)
        LayoutOps.commitAppend(e.where(col("day") < cut1), src,
          statsCols = Seq("day"))
        LayoutOps.lakeMirror(s, src, dst, statsCols = Seq("day"))
        LayoutOps.lakeMirror(s, src, dst) // replay: must be a no-op
        LayoutOps.commitAppend(
          e.where(col("day") >= cut1 && col("day") < cut2), src,
          statsCols = Seq("day"))
        LayoutOps.commitAppend(e.where(col("day") >= cut2), src,
          statsCols = Seq("day"))
        LayoutOps.lakeMirror(s, src, dst, statsCols = Seq("day"))
      }
      val d = LayoutOps.latestVersion(s, dst)
      require(d == 1, s"two catch-ups must land exactly two mirror " +
        s"commits, got ${d + 1}")
      LayoutOps.readVersionIndexed(s, dst, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    }),

    // readStream FROM the lake (LakeStreamSource): AvailableNow drains
    // the three day-sliced commits as version-offset micro-batches into
    // a parquet sink; the drained rows must equal the full relational
    // answer.  A re-run against the same checkpoint delivers nothing
    // (exactly-once), so the sink stays stable across repeat timings.
    "o5_stream_tail" -> ((s, dir) => {
      val src = Tables.scratch(dir, "st_src")
      val out = Tables.scratch(dir, "st_out")
      val ckp = Tables.scratch(dir, "st_ckp")
      buildSliced(s, dir, src)
      val q = s.readStream
        .format("graft.sources.LakeStreamSource")
        .option("path", src)
        .load()
        .writeStream
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            b.write.mode("append").parquet(out)
        }
        .start()
      // a timed-out drain would read a partial sink (and leave the
      // checkpoint held against the next timing run) — fail loudly
      require(q.awaitTermination(180000L),
        "lake stream drain did not finish within 180 s")
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    }),

    // Z-ORDER compaction (OPTIMIZE ZORDER BY): the snapshot rewritten
    // clustered on the (day, id-bucket) Morton interleave; pre- and
    // post-compaction snapshots must aggregate identically — clustering
    // moves bytes, never rows.
    "o5_zorder_travel" -> ((s, dir) => {
      val p = Tables.scratch(dir, "zt_events")
      buildSliced(s, dir, p)
      if (LayoutOps.latestVersion(s, p) == 2)
        LayoutOps.compactZOrdered(s, p,
          greatest(col("day") - 19700L, lit(0L)),
          pmod(col("event_id"), lit(64)), bits = 8, targetFiles = 2,
          statsCols = Seq("day"))
      prePostTotals(s, p)
    }),

    // Retention DELETE with directory-granular rewrites: removing a day
    // range from the day-sliced lake must rewrite ONLY the one commit
    // the range can touch (the other two carried by name, files
    // untouched — asserted structurally) and the surviving snapshot
    // must equal the relational complement.
    "o5_delete_where" -> ((s, dir) => {
      val p = Tables.scratch(dir, "dw_events")
      buildSliced(s, dir, p)
      if (LayoutOps.latestVersion(s, p) == 2) {
        val (before, _, _) = LayoutOps.manifestEntries(s, p, 2)
        require(LayoutOps.deleteWhere(s, p,
          col("day").between(19735L, 19739L)).contains(3))
        val (after, _, _) = LayoutOps.manifestEntries(s, p, 3)
        require(after.count(before.contains) == 2 && after.size == 3,
          s"delete must rewrite exactly the one affected commit: " +
            s"$before -> $after")
      }
      LayoutOps.readVersionIndexed(s, p,
        LayoutOps.latestVersion(s, p))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    }),

    // MERGE (upsert) with directory-granular rewrites: doubling a
    // narrow event_id band's values must rewrite ONLY the one
    // id-sliced commit whose key range the updates can touch (asserted
    // structurally), and the merged snapshot must equal the relational
    // CASE-expression oracle.
    "o5_merge_into" -> ((s, dir) => {
      val p = Tables.scratch(dir, "mi_events")
      if (LayoutOps.latestVersion(s, p) < 0) {
        val e = dayEvents(s, dir)
        LayoutOps.commitAppend(e.where(col("event_id") < 400), p,
          statsCols = Seq("event_id"))
        LayoutOps.commitAppend(
          e.where(col("event_id") >= 400 && col("event_id") < 800), p,
          statsCols = Seq("event_id"))
        LayoutOps.commitAppend(e.where(col("event_id") >= 800), p,
          statsCols = Seq("event_id"))
      }
      if (LayoutOps.latestVersion(s, p) == 2) {
        val upd = dayEvents(s, dir)
          .where(col("event_id").between(100L, 199L))
          .withColumn("vmic", col("vmic") * 2)
        val (before, _, _) = LayoutOps.manifestEntries(s, p, 2)
        require(LayoutOps.mergeInto(s, p, upd, "event_id").contains(3))
        val (after, _, _) = LayoutOps.manifestEntries(s, p, 3)
        require(after.count(before.contains) == 2 && after.size == 3,
          s"merge must rewrite exactly the one key-overlapping commit: " +
            s"$before -> $after")
      }
      LayoutOps.readVersionIndexed(s, p, LayoutOps.latestVersion(s, p))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    }),

    // Incremental consumer catch-up: the structural append-delta between
    // snapshots v0 and v2 must be exactly the two later day-slices —
    // read in O(delta) from the manifests, never an anti-join — and the
    // values must match the relational day-range oracle.
    "o5_version_delta" -> ((s, dir) => {
      val p = Tables.scratch(dir, "ss_events")
      buildSliced(s, dir, p)
      LayoutOps.readVersionDelta(s, p, 0, 2)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    })
  )

  /** Oracle CTE: `e(event_type, day, vmic)`, each event's epoch day and
    * value in integer micro-units. */
  private val DayVmicCte =
    """e AS (SELECT event_type,
      |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
      |    floor(value * 1000000.0)::BIGINT AS vmic
      |  FROM events)""".stripMargin

  /** Per-event-type count and micro-unit value sum over the events whose
    * day meets `where`. */
  private def dayTotalsSql(where: String): String =
    s"""WITH $DayVmicCte
      |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic
      |FROM e WHERE $where
      |GROUP BY event_type""".stripMargin

  /** Per-event-type count and micro-unit value sum over all events. */
  private val VmicTotalsSql =
    """WITH e AS (SELECT event_type,
      |    floor(value * 1000000.0)::BIGINT AS vmic
      |  FROM events)
      |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic
      |FROM e GROUP BY event_type""".stripMargin

  /** [[VmicTotalsSql]]'s totals twice, as phases `pre` and `post`: a
    * rewrite of the table must leave them unchanged. */
  private val PrePostTotalsSql =
    """WITH e AS (SELECT event_type,
      |    floor(value * 1000000.0)::BIGINT AS vmic
      |  FROM events),
      |a AS (SELECT event_type, count(*)::BIGINT AS n,
      |    sum(vmic)::BIGINT AS vmic
      |  FROM e GROUP BY event_type)
      |SELECT event_type, n, vmic, 'pre' AS phase FROM a
      |UNION ALL
      |SELECT event_type, n, vmic, 'post' AS phase FROM a""".stripMargin

  /** Per-event-type count and micro-unit value sum of lake `p`'s version
    * 2 (phase `pre`) and version 3 (phase `post`). */
  private def prePostTotals(s: SparkSession, p: String): DataFrame = {
    def agg(v: Int, tag: String): DataFrame =
      LayoutOps.readVersion(s, p, v)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
        .withColumn("phase", lit(tag))
    agg(2, "pre").unionByName(agg(3, "post"))
  }

  def oracles: Map[String, String] = Map(

    "s1_scan" ->
      s"""$RankedCte
         |SELECT row_id, l_orderkey, l_linenumber FROM ranked
         |WHERE row_id BETWEEN 100 AND 199""".stripMargin,

    "a1_class_count" ->
      "SELECT lang, count(*) AS cnt FROM documents GROUP BY lang",

    "stream_tumbling" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |         / 1000000.0 AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin,

    "stream_sessions" ->
      s"""WITH ${EventQueries.SessionStartCte},
        |sid AS (
        |  SELECT *, CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
        |  FROM s
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
        |       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |         / 1000000.0 AS value_sum
        |FROM sid GROUP BY user_id, session_id""".stripMargin,

    "s2_union_files" ->
      """WITH r AS (
        |  SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS row_id
        |  FROM customer
        |)
        |SELECT row_id, 'f0' AS source_file, c_custkey FROM r
        |UNION ALL
        |SELECT row_id + (SELECT count(*) FROM customer) AS row_id,
        |       'f1' AS source_file, c_custkey FROM r""".stripMargin,

    "o5_fetch_order" ->
      s"""${RankedCte},
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'block', '42', (row_id // 32)::VARCHAR)) AS bkey
         |  FROM ranked
         |),
         |o AS (
         |  SELECT l_orderkey, l_linenumber, row_id,
         |         row_number() OVER (ORDER BY bkey, row_id) - 1 AS ord
         |  FROM k
         |),
         |f AS (SELECT *, ord // 128 AS fetch_id FROM o)
         |SELECT l_orderkey, l_linenumber, fetch_id,
         |       row_number() OVER (PARTITION BY fetch_id ORDER BY row_id) - 1 AS io_pos
         |FROM f""".stripMargin,

    "stream_sliding" ->
      """WITH k AS (SELECT unnest([0, 1]) AS s),
        |e AS (SELECT epoch_ms(ts) AS tm, event_type, value FROM events),
        |w AS (
        |  SELECT (tm // 1800000 - s) * 1800000 AS window_start_ms, event_type, value
        |  FROM e CROSS JOIN k
        |)
        |SELECT window_start_ms, event_type, count(*) AS cnt,
        |       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |         / 1000000.0 AS value_sum
        |FROM w GROUP BY 1, 2""".stripMargin,

    "stream_first_events" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, value, epoch_ms(ts) AS ts_ms
        |  FROM events
        |),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts_ms, event_id) AS rn
        |  FROM e
        |)
        |SELECT user_id, event_type, event_id AS first_event_id,
        |       ts_ms AS first_ts_ms, value AS first_value
        |FROM r WHERE rn = 1""".stripMargin,

    "o5_export_shards" -> {
      val sk = graft.core.Rng.Md5.sortKeySql(5L, "shard", Seq("doc_id"))
      s"""WITH r AS (SELECT doc_id, $sk AS sk FROM documents),
         |s AS (
         |  SELECT doc_id, sk,
         |    ('0x' || substr(sk, 1, 8))::BIGINT % 8 AS shard
         |  FROM r
         |)
         |SELECT doc_id, shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY sk, doc_id) - 1 AS pos
         |FROM s""".stripMargin
    },

    "a1_rollup" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin,

    "a1_pivot" ->
      """SELECT source,
        |  (count(*) FILTER (WHERE lang = 'de'))::BIGINT AS de,
        |  (count(*) FILTER (WHERE lang = 'en'))::BIGINT AS en,
        |  (count(*) FILTER (WHERE lang = 'es'))::BIGINT AS es,
        |  (count(*) FILTER (WHERE lang = 'fr'))::BIGINT AS fr,
        |  (count(*) FILTER (WHERE lang = 'zh'))::BIGINT AS zh
        |FROM documents GROUP BY source""".stripMargin,

    "a1_length_hist" ->
      """SELECT least(n_chars // 100, 19)::BIGINT AS bucket,
        |  count(*)::BIGINT AS n_docs,
        |  min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars
        |FROM documents GROUP BY 1""".stripMargin,

    "a1_equidepth_hist" ->
      """WITH r AS (SELECT n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rn,
        |    count(*) OVER () AS n
        |  FROM documents)
        |SELECT (rn * 10) // n AS bucket, count(*)::BIGINT AS n_docs,
        |  min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars
        |FROM r GROUP BY 1""".stripMargin,

    "o5_partitioned_read" ->
      """SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents WHERE lang = 'en' GROUP BY source""".stripMargin,

    "s2_schema_merge" ->
      """SELECT (count(*) * 2)::BIGINT AS n_rows, count(*)::BIGINT AS n_with_lang,
        |  (sum(n_chars) * 2)::BIGINT AS chars
        |FROM documents""".stripMargin,

    "s3_orc_roundtrip" ->
      """SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY lang""".stripMargin,

    "o5_compacted_write" ->
      """SELECT 3::BIGINT AS n_files, count(*)::BIGINT AS n_rows,
        |sum(n_chars)::BIGINT AS chars FROM documents""".stripMargin,

    "o5_sorted_layout" ->
      """SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents WHERE n_chars >= 500 AND n_chars <= 900
        |GROUP BY lang""".stripMargin,

    "a1_cube" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY CUBE(source, lang)""".stripMargin,

    "s3_json_roundtrip" ->
      """SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY source""".stripMargin,

    "o5_curriculum" ->
      s"""WITH tq AS (${TextQueries.oracles("text_quality_tiers")})
         |SELECT doc_id, tier,
         |  row_number() OVER (ORDER BY tier,
         |    md5(concat_ws(':', 'curr', '31', doc_id::VARCHAR)), doc_id) - 1
         |    AS pos
         |FROM tq""".stripMargin,

    "s2_corrupt_tolerant" ->
      """SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY lang""".stripMargin,

    "a1_dq_report" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  (count(*) - count(text))::BIGINT AS null_text,
        |  (count(*) - count(lang))::BIGINT AS null_lang,
        |  (count(*) - count(source))::BIGINT AS null_source,
        |  count(DISTINCT lang)::BIGINT AS n_langs,
        |  count(DISTINCT source)::BIGINT AS n_sources,
        |  min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars,
        |  (count(*) FILTER (WHERE n_chars < 0))::BIGINT AS neg_chars
        |FROM documents""".stripMargin,

    "o5_upsert" ->
      """SELECT doc_id,
        |  (n_chars + CASE WHEN doc_id % 5 = 0 THEN 1000 ELSE 0 END)::BIGINT
        |    AS n_chars
        |FROM documents""".stripMargin,

    // layout-invariance: the box filter over the z-ordered table must
    // equal the same filter over the raw table
    "o5_zorder_layout" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  sum(floor(value * 1000000.0)::BIGINT)::BIGINT AS vmic
        |FROM (SELECT *, user_id % 1024 AS ub,
        |    (epoch_us(ts) // 3600000000) % 1024 AS hb
        |  FROM events)
        |WHERE ub < 256 AND hb >= 256 AND hb < 512
        |GROUP BY 1""".stripMargin,

    "a1_manifest" ->
      """SELECT source AS grp, count(*)::BIGINT AS n_rows,
        |  bit_xor(('0x' || substr(md5(concat_ws('|', doc_id, text)), 1, 15))
        |    ::BIGINT)::BIGINT AS xor_digest
        |FROM documents GROUP BY 1""".stripMargin,

    "a1_topk_per_group" ->
      """SELECT lang, (rn - 1)::INT AS rank, doc_id
        |FROM (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3""".stripMargin,

    "a1_fd_check" ->
      """WITH ls AS (SELECT count(DISTINCT lang)::BIGINT AS n_det,
        |    (SELECT count(*) FROM (SELECT DISTINCT lang, source
        |      FROM documents))::BIGINT AS n_pairs FROM documents),
        |sl AS (SELECT count(DISTINCT source)::BIGINT AS n_det,
        |    (SELECT count(*) FROM (SELECT DISTINCT source, lang
        |      FROM documents))::BIGINT AS n_pairs FROM documents),
        |dt AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_det,
        |    (SELECT count(*) FROM (SELECT DISTINCT doc_id, text
        |      FROM documents))::BIGINT AS n_pairs FROM documents)
        |SELECT 'lang->source' AS fd, n_det, n_pairs,
        |  (n_pairs = n_det) AS holds FROM ls
        |UNION ALL SELECT 'source->lang', n_det, n_pairs,
        |  (n_pairs = n_det) FROM sl
        |UNION ALL SELECT 'doc_id->text', n_det, n_pairs,
        |  (n_pairs = n_det) FROM dt""".stripMargin,

    "a1_observed_metrics" ->
      """SELECT count(*)::BIGINT AS n_seen,
        |  sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)::BIGINT AS n_pass,
        |  sum(n_chars)::BIGINT AS chars_seen,
        |  (SELECT count(*) FROM documents WHERE n_chars >= 200)::BIGINT
        |    AS n_kept
        |FROM documents""".stripMargin,

    "o5_snapshot_diff" ->
      """WITH base AS (SELECT event_id,
        |    CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
        |a AS (SELECT event_id,
        |    ('0x' || substr(md5(concat_ws('|', event_id, vm)), 1, 15))::BIGINT
        |      AS ha
        |  FROM base WHERE event_id % 11 <> 0),
        |b AS (SELECT event_id,
        |    ('0x' || substr(md5(concat_ws('|', event_id,
        |      CASE WHEN event_id % 5 = 0 THEN vm + 1000 ELSE vm END)), 1, 15))
        |      ::BIGINT AS hb
        |  FROM base WHERE event_id % 13 <> 0)
        |SELECT CASE WHEN ha IS NULL THEN 'added'
        |    WHEN hb IS NULL THEN 'removed'
        |    WHEN ha <> hb THEN 'changed'
        |    ELSE 'unchanged' END AS status,
        |  count(*)::BIGINT AS n
        |FROM a FULL OUTER JOIN b USING (event_id)
        |GROUP BY 1""".stripMargin,

    "s3_csv_roundtrip" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY lang""".stripMargin,

    "a1_dp_counts" ->
      """WITH c AS (SELECT lang AS grp, count(*)::BIGINT AS n
        |  FROM documents GROUP BY 1),
        |x AS (SELECT grp, n,
        |    (('0x' || substr(md5(concat_ws(':', 'dp', '42', (grp)::VARCHAR)),
        |      1, 8))::BIGINT / 4294967296.0) - 0.5 AS v
        |  FROM c)
        |SELECT grp,
        |  round(n + (-2.0) * sign(v) * ln(1.0 - 2.0 * abs(v)), 6) AS noisy_n
        |FROM x""".stripMargin,

    "a1_expectations" ->
      """SELECT 'orders.custkey_fk' AS check,
        |  (SELECT count(*) FROM orders o LEFT JOIN customer c
        |    ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)::BIGINT
        |    AS n_violations,
        |  (SELECT count(*) FROM orders o LEFT JOIN customer c
        |    ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) = 0 AS pass
        |UNION ALL
        |SELECT 'lineitem.orderkey_fk',
        |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)::BIGINT,
        |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) = 0
        |UNION ALL
        |SELECT 'orders.totalprice_nonneg',
        |  (SELECT count(*) FROM orders WHERE o_totalprice < 0)::BIGINT,
        |  (SELECT count(*) FROM orders WHERE o_totalprice < 0) = 0
        |UNION ALL
        |SELECT 'lineitem.discount_range',
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_discount < 0 OR l_discount > 1)::BIGINT,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_discount < 0 OR l_discount > 1) = 0
        |UNION ALL
        |SELECT 'documents.doc_id_unique',
        |  (SELECT count(*) FROM (SELECT doc_id FROM documents
        |    GROUP BY doc_id HAVING count(*) > 1))::BIGINT,
        |  (SELECT count(*) FROM (SELECT doc_id FROM documents
        |    GROUP BY doc_id HAVING count(*) > 1)) = 0""".stripMargin,

    "o5_time_travel" ->
      s"""WITH $DayVmicCte
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic,
        |  0 AS version
        |FROM e WHERE day < 19737 GROUP BY event_type
        |UNION ALL
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic,
        |  1 AS version
        |FROM e GROUP BY event_type""".stripMargin,

    "s1_gen_source" ->
      """WITH g AS (SELECT i AS id,
        |    (((i + 7) % 1048576) * 40503 % 100)::INT AS bucket,
        |    ((((i + 7) % 1048576) * 2654435761 % 1000000) / 1000.0) AS val
        |  FROM generate_series(0, 99999) t(i))
        |SELECT bucket, count(*)::BIGINT AS n, sum(id)::BIGINT AS id_sum,
        |  sum(floor(val * 1000.0)::BIGINT)::BIGINT AS val_mil
        |FROM g GROUP BY 1""".stripMargin,

    // the flat aggregation — nesting, parquet, and un-nesting must be
    // invisible to it, twice over (array leg AND map leg)
    "s3_nested_roundtrip" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  sum(floor(value * 1000000.0)::BIGINT)::BIGINT AS vmic,
        |  count(*)::BIGINT AS n_from_map
        |FROM events GROUP BY 1""".stripMargin,

    "a1_unpivot" ->
      """WITH census AS (
        |  SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |  FROM documents GROUP BY 1)
        |SELECT lang, 'n_docs' AS metric, n_docs AS value FROM census
        |UNION ALL
        |SELECT lang, 'chars' AS metric, chars AS value FROM census""".stripMargin,

    "o5_compact_travel" -> PrePostTotalsSql,

    "o5_stats_skip" -> dayTotalsSql("day BETWEEN 19735 AND 19739"),

    "o5_pushdown_skip" -> dayTotalsSql("day BETWEEN 19735 AND 19739"),

    "o5_tail_mirror" -> VmicTotalsSql,

    "o5_stream_tail" -> VmicTotalsSql,

    "o5_zorder_travel" -> PrePostTotalsSql,

    "o5_merge_into" ->
      """WITH e AS (SELECT event_id, event_type,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n,
        |       sum(CASE WHEN event_id BETWEEN 100 AND 199
        |                THEN 2 * vmic ELSE vmic END)::BIGINT AS vmic
        |FROM e GROUP BY event_type""".stripMargin,

    "o5_delete_where" -> dayTotalsSql("day < 19735 OR day > 19739"),

    "o5_version_delta" -> dayTotalsSql("day >= 19732")
  )
}
