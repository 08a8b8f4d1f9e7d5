package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Mutable per-user state carried across micro-batches by
  * [[StreamingOps.runningUserStats]].  Value sums are held in exact
  * integer micro-units (same hardening as `exactValueSum`) so the running
  * total is bit-reproducible regardless of micro-batch boundaries.
  * Top-level (not nested in the object): Catalyst's runtime-reflection
  * encoder resolves top-level case classes reliably under sbt's layered
  * test classloaders, where object-nested ones intermittently fail
  * `staticClass` lookup. */
final case class UserState(n: Long, valueMicros: Long, lastTsMs: Long)

/** Per-key as-of state for [[StreamingOps.asofEnrichStream]]: the single
  * latest right-side row seen so far — (event-time micros, id, value) —
  * O(1) per key no matter how long the stream runs.  Top-level for the
  * same classloader reason as [[UserState]]. */
final case class AsofState(tsMicros: Long, id: Long, value: Double,
  valueNull: Boolean)

/** Output row of [[StreamingOps.asofEnrichStream]] — the batch
  * [[graft.ops.EventOps.asofJoin]] schema (left_id nullable: a null left
  * id with a valid key still merges, exactly the batch rule). */
final case class AsofOut(left_id: Option[Long], k: Long,
  ts: java.sql.Timestamp, matched_id: Option[Long],
  matched_value: Option[Double])

/** Structured-Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props).  Each transform is
  * written against an unbounded DataFrame, so the SAME code runs in batch
  * (for the oracle-checked queries) and under `readStream` with a
  * watermark — Spark's incrementalization, not a parallel implementation.
  */
object StreamingOps {

  /** Order-independent exact sum of a double column: floor to integer
    * micro-units, sum as long (associative, partitioning-immune), divide
    * back.  A plain `sum(double)` depends on partial-aggregation order and
    * is NOT reproducible across engines/partitionings at the 6th decimal. */
  private[streaming] def exactValueSum(value: Column): Column =
    (sum(floor(value * lit(1000000.0)).cast("long")).cast("double") /
      lit(1000000.0)).as("value_sum")

  /** Tumbling-window counts + value sums per event_type.
    * Works on batch and streaming frames alike. */
  def tumblingCounts(events: DataFrame, windowLen: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), exactValueSum(col("value")))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("cnt"), col("value_sum"))

  /** Per-user recency-weighted activity mass: each event weighted
    * `exp(−ln2 · age/halfLife)` relative to the corpus's newest event
    * (half-life decay — the freshness prior a training-data pipeline puts
    * on event/interaction streams before sampling).  Each weight is
    * 6-dp rounded THEN integerized to micro-units, so the per-user sum is
    * exact integer arithmetic — order-independent and oracle-exact (the
    * [[exactValueSum]] discipline; a raw float sum of exps would drift
    * with partitioning).
    *
    * Shape: one agg for the global max ts (1 row, broadcast), one narrow
    * weighting pass, one map-side-combined per-user agg.
    * Output: (user_id, n_events, recency_mass). */
  def recencyWeights(events: DataFrame, halfLifeDays: Double): DataFrame = {
    require(halfLifeDays > 0, "halfLifeDays must be positive")
    val mx = events.agg(max(unix_millis(col("ts"))).as("__mx"))
    events.select(col("user_id"), unix_millis(col("ts")).as("__ms"))
      .crossJoin(broadcast(mx))
      .select(col("user_id"),
        floor(round(
          exp(lit(-0.6931471805599453) * (col("__mx") - col("__ms")) /
            lit(halfLifeDays * 86400000.0)), 6) * lit(1000000.0))
          .cast("long").as("__w6"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        (sum(col("__w6")).cast("double") / lit(1000000.0))
          .as("recency_mass"))
  }

  /** Sliding-window counts + value sums per event_type: window `windowLen`,
    * slide `slideLen` (each event lands in windowLen/slideLen windows).
    * Same shape batch or streaming. */
  def slidingCounts(events: DataFrame, windowLen: String,
      slideLen: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen, slideLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), exactValueSum(col("value")))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("cnt"), col("value_sum"))

  /** Gap-based sessionization (batch form): a session breaks after
    * `gapMs` of user inactivity.  Output one row per session:
    * (user_id, session_id, n_events, start_ms, end_ms, value_sum).
    *
    * The shuffle is one exchange on user_id; the two windows below share
    * that partitioning (Catalyst reuses the exchange).  The streaming
    * equivalent is `session_window(ts, gap)` / flatMapGroupsWithState. */
  def sessionize(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val withStart = events
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("is_start",
        when(col("ts_ms") - lag("ts_ms", 1).over(byUser) > gapMs, 1)
          .when(lag("ts_ms", 1).over(byUser).isNull, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum("is_start").over(byUser.rowsBetween(Window.unboundedPreceding, 0)) - 1)
    withStart.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts_ms").as("start_ms"), max("ts_ms").as("end_ms"),
        exactValueSum(col("value")))
  }

  /** Batch-form first-occurrence dedup: one row per (user_id, event_type) —
    * the EARLIEST event by (ts, event_id).  This is the deterministic batch
    * semantics of streaming `dropDuplicates` on the key (first seen wins),
    * expressed as a hash aggregate: `min_by` over the lexicographic
    * (ts_ms, event_id) key runs with map-side combine — one shuffle of one
    * row per key per task, no window sort.  [[dedupStream]] is the
    * incremental form of the same operator. */
  def firstEvents(events: DataFrame): DataFrame =
    events
      .withColumn("ts_ms", unix_millis(col("ts")))
      .groupBy("user_id", "event_type")
      .agg(min_by(struct(col("event_id"), col("ts_ms"), col("value")),
        struct(col("ts_ms"), col("event_id"))).as("first"))
      .select(col("user_id"), col("event_type"),
        col("first.event_id").as("first_event_id"),
        col("first.ts_ms").as("first_ts_ms"),
        col("first.value").as("first_value"))

  /** Streaming exact deduplication: drops rows whose `idCols` were already
    * seen, keeping state only within the event-time watermark — the
    * incremental form of [[graft.ops.DedupOps.exactDedup]] for continuous
    * ingestion (state size is bounded by the watermark horizon, not the
    * stream length). */
  def dedupStream(spark: SparkSession, dir: String, schema: StructType,
      watermark: String, idCols: String*): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols.toSeq)

  /** Streaming NEAR-dup dedup — the continuous-ingestion form of MinHash
    * LSH banding: each arriving document's band keys
    * ([[graft.ops.DedupOps.minhashBandArray]], a narrow per-row kernel)
    * are deduplicated within the watermark, so the output is the stream of
    * (band, band_key) buckets AS THEY ARE FIRST CLAIMED, each carrying its
    * owning document — an incrementally-maintained band index (the
    * streaming counterpart of [[graft.ops.DedupOps.minhashIndexAppend]]).
    * A later document ALL of whose bands are already claimed emits
    * nothing: it is a pure near-dup candidate of the in-horizon corpus.
    *
    * State is one row per DISTINCT bucket inside the watermark horizon —
    * bounded by content diversity, never stream length.  Equality
    * contract: when arrival order matches the `ts` order, the accumulated
    * output equals the batch [[graft.ops.DedupOps.bandFirstOwners]] with
    * `ord = ts` (spec-proven; the batch form is oracle-checked as
    * `dd_band_owners`). */
  def bandDedupStream(spark: SparkSession, dir: String, schema: StructType,
      watermark: String, k: Int = 3, numHashes: Int = 16,
      bands: Int = 4): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        posexplode(graft.ops.DedupOps.minhashBandArray(col("text"), k,
          numHashes, bands)).as(Seq("band", "band_key")))
      .dropDuplicatesWithinWatermark("band", "band_key")
      .select(col("band").cast("int").as("band"), col("band_key"),
        col("doc_id").as("owner_id"), unix_millis(col("ts")).as("ts_ms"))

  /** Streaming-mode sessionization: Spark's native `session_window` (gap-
    * merged state per user) with a watermark bounding state retention —
    * the incremental counterpart of [[sessionize]].  Output schema matches
    * the batch form minus the dense per-user session index (streaming
    * cannot know "session 3 of user u" until the user is watermark-closed;
    * sessions are keyed by start time instead). */
  def sessionizeStream(spark: SparkSession, dir: String, schema: StructType,
      gap: String, watermark: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), exactValueSum(col("value")))
      .select(col("user_id"), unix_millis(col("w.start")).as("start_ms"),
        unix_millis(col("w.end")).as("end_ms"), col("n_events"),
        col("value_sum"))

  /** Streaming quality gate: [[graft.ops.TextOps.filterPipeline]] over a
    * document file stream — the gate kernel is stateless per-row, so no
    * watermark or state store is involved and each micro-batch's output
    * equals the batch gate on the same rows (spec-proven).  The shape a
    * continuous-ingestion curation pipeline runs: gate at arrival, land
    * survivors, batch-dedup downstream on the landed table. */
  def qualityGateStream(spark: SparkSession, dir: String,
      schema: StructType, minTokens: Long, maxTokens: Long,
      minQuality: Double, langs: Seq[String]): DataFrame =
    graft.ops.TextOps.gateProjection(
      spark.readStream.schema(schema).parquet(dir),
      col("text"), col("doc_id"), minTokens, maxTokens, minQuality, langs)

  /** Streaming DSIR scoring: every arriving document scored against a
    * PERSISTED model ([[graft.ops.TextOps.dsirModelWrite]]) via the
    * stateless per-row fold ([[graft.ops.TextOps.dsirScoreStateless]]) —
    * no state store, no watermark; the lr map is materialized once at
    * stream start.  Score-at-ingestion: route or tag documents by
    * target-likeness as they land, refresh the model offline. */
  def dsirScoreStream(spark: SparkSession, dir: String, schema: StructType,
      modelDir: String, buckets: Int = 4096): DataFrame = {
    val lr = graft.ops.TextOps.dsirLogRatioMap(spark, modelDir, buckets)
    graft.ops.TextOps.dsirScoreStateless(
      spark.readStream.schema(schema).parquet(dir),
      col("text"), col("doc_id"), lr, buckets)
  }

  /** Streaming OOV-rate scoring: every arriving document scored against a
    * driver-held vocabulary ([[graft.ops.TextOps.vocabTop]], refreshed
    * offline) via the stateless per-row form — no join, no state, no
    * watermark; bit-equal to the batch [[graft.ops.TextOps.oovRate]]
    * under the same vocabulary.  Vocabulary-coverage gate-at-ingestion. */
  def oovScoreStream(spark: SparkSession, dir: String, schema: StructType,
      vocab: Seq[String]): DataFrame =
    graft.ops.TextOps.oovRateStateless(
      spark.readStream.schema(schema).parquet(dir),
      col("text"), col("doc_id"), vocab)

  /** Stream-static enrichment: every arriving event left-joined to a
    * STATIC dimension snapshot (user profile, domain metadata) on `key` —
    * Spark's stream-static join needs no state store or watermark; the
    * static side is broadcast when small (the hint below), so enrichment
    * adds no shuffle to the stream.  Refresh the snapshot by restarting
    * the query (the standard slowly-changing-dimension pattern).
    * Bit-equal to the same join on the batch frame. */
  def enrichStream(spark: SparkSession, dir: String, schema: StructType,
      dim: DataFrame, key: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Streaming nearest-centroid routing: every arriving embedding is
    * assigned to its IVF cell via the stateless literal-codebook argmax
    * ([[graft.ops.SimilarityOps.centroidAssignStateless]]) — no join, no
    * state, no watermark; bit-equal to the batch
    * [[graft.ops.SimilarityOps.ivfAssign]] under the same centroids.
    * Route-to-cell at ingestion: an arriving vector lands in the right
    * index partition without a batch re-assignment pass. */
  def centroidAssignStream(spark: SparkSession, dir: String,
      schema: StructType, cents: Seq[(Long, Seq[Double])]): DataFrame =
    graft.ops.SimilarityOps.centroidAssignStateless(
      spark.readStream.schema(schema).parquet(dir),
      col("embedding"), col("vec_id"), cents)

  /** Streaming value-anomaly scoring: every arriving event z-scored
    * against a driver-held per-type stats map
    * ([[graft.ops.EventOps.valueStats]], refreshed offline) via the
    * stateless per-row form — no join, no state, no watermark; bit-equal
    * to the batch [[graft.ops.EventOps.outlierScoreStateless]] under the
    * same stats.  Flag-at-ingestion for the monitoring sink. */
  def outlierScoreStream(spark: SparkSession, dir: String,
      schema: StructType, stats: Map[String, (Double, Double)]): DataFrame =
    graft.ops.EventOps.outlierScoreStateless(
      spark.readStream.schema(schema).parquet(dir),
      col("event_id"), col("event_type"), col("value"), stats)

  /** Streaming-mode tumbling aggregation with a watermark, reading a
    * parquet directory as a file stream.  Returns the streaming DataFrame;
    * attach a sink with `.writeStream`. */
  def tumblingCountsStream(spark: SparkSession, dir: String,
      schema: StructType, windowLen: String, watermark: String): DataFrame =
    tumblingCountsPreAgg(
      spark.readStream.schema(schema).parquet(dir)
        .withWatermark("ts", watermark), windowLen)

  /** The watermark-compatible aggregation body shared by batch/stream. */
  private def tumblingCountsPreAgg(events: DataFrame, windowLen: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), exactValueSum(col("value")))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("cnt"), col("value_sum"))

  /** Custom-state streaming (flatMapGroupsWithState): per-user RUNNING
    * totals — event count, exact value sum, last event time — updated every
    * micro-batch (`OutputMode.Update`).  The state is keyed by user and
    * expires `idleTimeoutMs` of EVENT TIME after the user's last event
    * (EventTimeTimeout: the watermark, not wall clock, drives expiry — a
    * replay produces identical results), emitting nothing on expiry.
    *
    * This is the template for stateful logic Spark's built-in windowed
    * aggregations cannot express (per-key counters, custom session payloads,
    * model features accumulated across a stream).  State size is bounded by
    * |active users within the watermark horizon|, never the stream length —
    * the property that keeps it viable on an unbounded 100 TB/day feed. */
  def runningUserStats(spark: SparkSession, dir: String, schema: StructType,
      watermark: String, idleTimeoutMs: Long = 3600000L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // the watermarked `ts` column must survive the projection AS A
    // TIMESTAMP — converting it would drop the watermark attribute the
    // EventTimeTimeout checker requires
    val ev = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"),
        floor(col("value") * lit(1000000.0)).cast("long"))
      .as[(Long, java.sql.Timestamp, Long)]
    ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
            state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue))
            var n = prev.n; var vm = prev.valueMicros; var last = prev.lastTsMs
            rows.foreach { case (_, ts, v) =>
              n += 1; vm += v
              val ms = ts.getTime
              if (ms > last) last = ms
            }
            state.update(UserState(n, vm, last))
            state.setTimeoutTimestamp(last + idleTimeoutMs)
            Iterator((user, n, vm.toDouble / 1000000.0, last))
          }
      }
      .toDF("user_id", "n_events", "value_sum", "last_ts_ms")
  }

  /** Ingest-time exact dedup against a persisted exact index
    * ([[graft.ops.DedupOps.exactIndexWrite]]'s digest table): arriving
    * documents are digest-deduplicated WITHIN the stream (first arrival
    * wins — `dropDuplicates` state keyed by digest) and anti-joined
    * against the historical index — the production shape: never re-admit
    * yesterday's corpus, never admit today's twice.  The index side is a
    * static read (refresh by restart, same SCD pattern as
    * [[enrichStream]]); the anti-join is stream-static, no shuffle on the
    * stream side when the digest set broadcasts.
    *
    * NOTE: un-watermarked `dropDuplicates` state grows with the distinct
    * digests seen — bound it with `withWatermark` +
    * `dropDuplicatesWithinWatermark` when the stream is unbounded and
    * re-arrivals are time-local. */
  def exactDedupStream(spark: SparkSession, dir: String, schema: StructType,
      indexDir: String): DataFrame = {
    val idx = spark.read.parquet(indexDir).select(col("text_hash"))
    spark.readStream.schema(schema).parquet(dir)
      .withColumn("text_hash", md5(col("text")))
      .dropDuplicates("text_hash")
      .join(broadcast(idx), Seq("text_hash"), "left_anti")
  }

  /** Streaming seasonal anomaly monitor: watermarked tumbling counts per
    * (window, type), z-scored at window close against a DRIVER-HELD
    * baseline map keyed by (type, hour-of-day) — mean/sd from an offline
    * [[graft.ops.EventOps.hourlyAnomalies]]-style moment pass, refreshed
    * by restart.  The stream side is one windowed aggregate (watermark
    * bounds state); the scoring is a pure literal-map expression — no
    * stream-static join, no second state store.  Output: (window_start_ms,
    * event_type, cnt, z), z null for types/hours absent from the
    * baseline.  Bit-equal to the same expression over the batch
    * [[tumblingCounts]]. */
  def anomalyStream(spark: SparkSession, dir: String, schema: StructType,
      watermark: String,
      baseline: Map[(String, Long), (Double, Double)]): DataFrame = {
    val ev = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("cnt"))
    scoreAgainstBaseline(ev, baseline)
  }

  /** The shared (stateless) scoring tail of [[anomalyStream]]: z of `cnt`
    * against the literal (type:hod)-keyed baseline — usable identically
    * on the batch [[tumblingCounts]] frame (the stream == batch spec
    * hinges on this being ONE definition). */
  def scoreAgainstBaseline(windowCounts: DataFrame,
      baseline: Map[(String, Long), (Double, Double)]): DataFrame = {
    val means = typedLit(baseline.map { case ((t, h), v) => s"$t:$h" -> v._1 })
    val sds = typedLit(baseline.map { case ((t, h), v) => s"$t:$h" -> v._2 })
    val key = concat_ws(":", col("event_type"),
      pmod(floor(col("window_start_ms") / 3600000).cast("long"), lit(24L)))
    val mean = element_at(means, key)
    val sd = element_at(sds, key)
    windowCounts.select(col("window_start_ms"), col("event_type"),
      col("cnt"),
      when(sd > 0, round((col("cnt").cast("double") - mean) / sd, 6))
        .as("z"))
  }

  /** Streaming funnel attribution: per-user furthest stage, maintained
    * incrementally via `flatMapGroupsWithState` — the stream form of
    * [[graft.ops.EventOps.funnelStages]].  State per user is ONE int (the
    * stage); each micro-batch's rows are (ts, id)-sorted before the fold,
    * so the result equals the batch automaton whenever events arrive
    * time-ordered ACROSS batches (the file-stream contract; a reordering
    * buffer would need watermarked custom state à la [[runningUserStats]]).
    * Emits the updated (user_id, stage) rows each batch
    * (`OutputMode.Update`). */
  def funnelStream(spark: SparkSession, dir: String, schema: StructType,
      steps: Seq[String]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ev = spark.readStream.schema(schema).parquet(dir)
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
            state: GroupState[Int]) =>
          var st = state.getOption.getOrElse(0)
          rows.toSeq.sortBy(r => (r._2.getTime, r._3)).foreach {
            case (_, _, _, typ) =>
              if (st < steps.size && typ == steps(st)) st += 1
          }
          state.update(st)
          Iterator((user, st))
      }
      .toDF("user_id", "stage")
  }

  /** Stream–stream interval join: each purchase paired with every click by
    * the same user inside the `windowMs` lookback — the incremental form of
    * the batch attribution window (candidate pairs; last-touch selection is
    * a downstream reduction).  Both sides carry watermarks and the join
    * condition time-bounds the click relative to the purchase, which is
    * what lets Spark BOUND the join state: clicks older than
    * (watermark − window) and purchases past the watermark are evicted
    * instead of accumulating forever — the non-negotiable requirement for a
    * join between two unbounded streams.  State is hash-partitioned by
    * user, so it scales out with executors; per-user state is the window's
    * click count, not history.  Append mode: pairs emit once, finalized by
    * the watermark. */
  def attributionStream(spark: SparkSession, dir: String, schema: StructType,
      windowMs: Long, watermark: String = "1 hour"): DataFrame = {
    val ev = spark.readStream.schema(schema).parquet(dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermark)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMs MILLISECOND"),
      "inner")
      .select(col("purchase_id"), col("click_id"),
        col("p_user").as("user_id"))
  }

  /** Streaming AS-OF enrichment — the stream form of the one composed
    * batch operator that had none: every left-type event (default:
    * click) annotated with the key's latest right-type event (default:
    * purchase) at-or-before it, the batch
    * [[graft.ops.EventOps.asofJoin]] semantics (ties at the same
    * instant: right rows are eligible, equal right timestamps resolve
    * to the greatest right id) and output schema (left_id, k, ts,
    * matched_id, matched_value).
    *
    * Physical shape: `flatMapGroupsWithState` keyed by user — NOT a
    * stream-stream interval join, because an as-of needs only the
    * single LATEST right row, so per-key state is one (ts, id, value)
    * triple, O(1) forever, with no watermark-bounded click buffer and
    * no lookback-window cap on how far back the match may reach.
    * Within a micro-batch the group's rows are folded in the batch
    * operator's exact interleave order (ts, right-before-left,
    * right-id ascending); across micro-batches the state carries the
    * running latest right row, guarded lexicographically so a
    * same-instant smaller-id right arriving in a later batch cannot
    * regress the match.
    *
    * `toleranceMs ≥ 0` bounds the match's staleness at emit (the batch
    * `AsOfJoin(toleranceUs)` rule): a left row whose latest right row is
    * older than the tolerance emits unmatched.  State is unchanged —
    * the latest right row is still the only candidate a future left row
    * could need.
    *
    * `stateTtl` bounds TOTAL state at unbounded key churn: per-key state
    * is O(1), but over months the KEY COUNT grows without it.  With a
    * TTL, the input is watermarked by the same duration and a key whose
    * last seen event falls `stateTtl` behind the watermark is evicted
    * (event-time timeout) — a later left row for that key emits
    * unmatched, exactly what a `toleranceMs ≤ stateTtl` would have
    * decided anyway; set `stateTtl ≥ toleranceMs` so eviction never
    * drops a match tolerance would keep.
    *
    * Exactness contract (R15StreamSpec): under per-key ORDERED arrival
    * — each micro-batch's events at-or-after the previous batch's, the
    * replay/backfill shape — the emitted rows equal the batch asofJoin
    * (and, with tolerance, the native `asofJoinNative(toleranceMs)`)
    * row-for-row.  Under disorder, a left row is enriched with the
    * latest right row KNOWN at its micro-batch (no retraction of
    * already-emitted rows — the standard streaming-enrichment trade;
    * emitted in Update mode). */
  def asofEnrichStream(spark: SparkSession, dir: String,
      schema: StructType, leftType: String = "click",
      rightType: String = "purchase",
      toleranceMs: Long = -1L, stateTtl: Option[String] = None): DataFrame = {
    val tolUs = if (toleranceMs < 0) -1L else toleranceMs * 1000L
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val raw = spark.readStream.schema(schema).parquet(dir)
      .where(col("event_type").isin(leftType, rightType))
    val tagged = stateTtl.fold(raw)(ttl => raw.withWatermark("ts", ttl))
      .select(col("user_id").cast("long").as("k"),
        col("ts"),
        when(col("event_type") === lit(rightType), 0).otherwise(1)
          .as("side"),
        col("event_id").cast("long").as("id"),
        col("value").cast("double").as("v"))
    // SQL null semantics, matching the batch asofJoin: right rows with a
    // null key/ts are discarded; LEFT rows with a null key/ts bypass the
    // stateful merge and emit unmatched (they can never match, and a
    // null key cannot enter the non-nullable group key anyway)
    val nullLeft = tagged
      .where(col("side") === 1 && (col("k").isNull || col("ts").isNull))
      .select(col("id").as("left_id"), col("k"), col("ts"),
        lit(null).cast("long").as("matched_id"),
        lit(null).cast("double").as("matched_value"))
    // null ids: a LEFT row's id may be null (emits a null left_id, the
    // batch rule); a RIGHT row with a null id carries no usable match
    // reference and is discarded like a null key
    val ev = tagged
      .where(col("k").isNotNull && col("ts").isNotNull &&
        !(col("side") === 0 && col("id").isNull))
      .as[(Long, java.sql.Timestamp, Int, java.lang.Long, java.lang.Double)]
    val timeoutKind =
      if (stateTtl.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val ttlMs = stateTtl.map(t =>
      org.apache.spark.sql.catalyst.util.IntervalUtils
        .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(t)))
      .map(i => i.months * 2592000000L + i.days * 86400000L +
        i.microseconds / 1000L)
    ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, timeoutKind) {
        (k: Long,
            rows: Iterator[(Long, java.sql.Timestamp, Int, java.lang.Long, java.lang.Double)],
            state: GroupState[AsofState]) =>
          if (state.hasTimedOut) {
            // the key's last event fell `stateTtl` behind the watermark:
            // evict — a later left row re-creates the key unmatched
            state.remove()
            Iterator.empty
          } else {
          var s = state.getOption.orNull
          // the batch window's interleave: ts, right (side 0) before left
          // at the same instant, equal-ts rights ascending by id — the
          // running "latest right" after each row IS the as-of match
          val ordered = rows.toSeq.sortBy { case (_, ts, side, id, _) =>
            (ts.getTime * 1000 + ts.getNanos / 1000 % 1000, side,
              if (id == null) Long.MinValue else id.longValue())
          }
          val out = ordered.flatMap { case (_, ts, side, id, v) =>
            val tsMicros = ts.getTime * 1000 + ts.getNanos / 1000 % 1000
            if (side == 0) {
              // right row: advance the running latest (lexicographic
              // (ts, id) guard for cross-batch same-instant arrivals)
              if (s == null || tsMicros > s.tsMicros ||
                  (tsMicros == s.tsMicros && id >= s.id))
                s = AsofState(tsMicros, id.longValue(),
                  if (v == null) 0.0 else v.doubleValue(), v == null)
              None
            } else {
              // tolerance bounds the match's staleness at emit — the
              // batch AsOfJoin(toleranceUs) rule
              val ok = s != null &&
                (tolUs < 0L || tsMicros - s.tsMicros <= tolUs)
              Some(AsofOut(Option(id).map(_.longValue()), k, ts,
                if (!ok) None else Some(s.id),
                if (!ok || s.valueNull) None else Some(s.value)))
            }
          }
          if (s != null) state.update(s)
          // arm the eviction clock: this key times out once the
          // watermark passes its last-seen event by the TTL (clamped
          // above the current watermark — a late straggler key must
          // still get a VALID timeout, just an imminent one)
          ttlMs.foreach { t =>
            if (state.exists) {
              val lastSeenMs = ordered.lastOption
                .map { case (_, ts, _, _, _) => ts.getTime }
                .getOrElse(state.get.tsMicros / 1000L)
              state.setTimeoutTimestamp(
                math.max(lastSeenMs + t, state.getCurrentWatermarkMs() + 1))
            }
          }
          out.iterator
          }
      }
      .toDF("left_id", "k", "ts", "matched_id", "matched_value")
      .unionByName(nullLeft)
  }

  /** Ingest-time per-key admission control: each key's first `maxPerKey`
    * events (by event time, id tiebreak within a micro-batch) pass; the
    * rest drop — the anti-flood / per-source quota gate in front of a
    * training-data firehose, where one runaway producer would otherwise
    * swamp the corpus mix.  State per key is ONE long (the admitted
    * count), maintained with `flatMapGroupsWithState`; keys hash-partition
    * across executors, so both state and throughput scale out.  Emits the
    * admitted (user_id, event_id, admit_rank) rows each batch. */
  def rateLimitStream(spark: SparkSession, dir: String, schema: StructType,
      maxPerKey: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(maxPerKey > 0, "maxPerKey must be positive")
    val ev = spark.readStream.schema(schema).parquet(dir)
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"))
      .as[(Long, java.sql.Timestamp, Long)]
    ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
            state: GroupState[Long]) =>
          var admitted = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(r => (r._2.getTime, r._3)).flatMap {
            case (_, _, id) =>
              if (admitted < maxPerKey) {
                admitted += 1
                Some((user, id, admitted))
              } else None
          }
          state.update(admitted)
          out.iterator
      }
      .toDF("user_id", "event_id", "admit_rank")
  }

  /** [[attributionStream]]'s LEFT OUTER form: purchases with NO click in
    * the lookback window emit with null click columns ONCE the watermark
    * passes their join window (the engine must prove no matching click
    * can still arrive before declaring the purchase an orphan) — the
    * unattributed-conversion monitor.  Same bounded state as the inner
    * join; the null rows are watermark-finalized, so results are
    * eventually-complete rather than instant.
    *
    * Operational caveat (spec-demonstrated): the two watermark operators
    * sit AFTER the event-type filters, and the global watermark is their
    * MIN — a quiet branch (no purchases arriving) pins the global
    * watermark and defers orphan finalization indefinitely.  Production
    * monitors should watermark BEFORE splitting, or ensure both branches
    * see traffic (heartbeat events are the standard fix). */
  def attributionStreamOuter(spark: SparkSession, dir: String,
      schema: StructType, windowMs: Long,
      watermark: String = "10 seconds"): DataFrame = {
    val ev = spark.readStream.schema(schema).parquet(dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermark)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMs MILLISECOND"),
      "left_outer")
      .select(col("purchase_id"), col("click_id"),
        col("p_user").as("user_id"))
  }

  /** Replace the plain-parquet table at `path` with `next(current)`
    * (`current` is None while no table exists): write `path__swap`,
    * delete the old table, rename the swap copy into place.  Every
    * FileSystem boolean is checked (Hadoop reports a failed delete or
    * rename by returning false): a failed rename throws and KEEPS
    * `__swap`, which then holds the only copy of the table, and the next
    * call first renames a complete (`_SUCCESS`-marked) `__swap` back into
    * place when the table is missing, so a replayed batch merges into
    * the table rather than starting over.  Not atomic: between the
    * delete and the rename, readers see no table at `path`.  One writer
    * per table. */
  private[graft] def swapTable(spark: SparkSession, path: String)(
      next: Option[DataFrame] => DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "__swap")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) &&
        fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
      require(fs.rename(tmp, p),
        s"could not restore $p from the interrupted swap at $tmp")
    next(if (fs.exists(p)) Some(spark.read.parquet(path)) else None)
      .write.mode("overwrite").parquet(tmp.toString)
    require(!fs.exists(p) || fs.delete(p, true),
      s"could not delete $p to swap in $tmp")
    require(fs.rename(tmp, p),
      s"could not rename $tmp to $p; the new table is kept at $tmp")
  }

  /** Streaming incremental-view maintenance: each micro-batch's delta
    * rollup merges into a materialized additive rollup via
    * [[graft.ops.LayoutOps.mergeRollups]] + [[swapTable]] — the nightly
    * 100 TB re-aggregation replaced by per-batch merges whose cost is the
    * ROLLUP's cardinality.  Exactly the associativity invariant
    * `ev_rollup_merge` oracle-checks, run continuously. */
  def rollupSink(stream: DataFrame, keys: Seq[String], sumCols: Seq[String],
      path: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        import org.apache.spark.sql.functions.{col, sum}
        val delta = batch.groupBy(keys.map(col): _*)
          .agg(sum(sumCols.head).as(sumCols.head),
            sumCols.tail.map(c => sum(c).as(c)): _*)
        swapTable(batch.sparkSession, path)(_.fold(delta)(
          graft.ops.LayoutOps.mergeRollups(_, delta, keys, sumCols)))
      }
      .start()

  /** One micro-batch → one versioned-lake commit, exactly once: the batch
    * id is recorded INSIDE the version manifest (`#txn:batch<id>`,
    * Delta-`txn`-style), so the commit and its replay marker are ONE
    * atomic manifest write — there is no window where the data is
    * committed but the marker is missing (the flaw of a separate marker
    * file written after the commit).  A foreachBatch replay after a
    * restart first asks the manifest log whether this batch already
    * landed.  A crash between data write and manifest write leaves only
    * an unreferenced, WRITER-UNIQUE data directory (LayoutOps.commit's
    * naming): it can never collide with the retry's own write, is
    * invisible to every reader (manifests are the only name authority),
    * and is reclaimed by `LayoutOps.vacuum`'s disk sweep.  Public so the
    * replay invariant is directly testable. */
  def commitBatchIdempotent(batch: DataFrame, batchId: Long,
      path: String, statsCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    if (!graft.ops.LayoutOps.txnCommitted(spark, path, s"batch$batchId"))
      graft.ops.LayoutOps.commitAppend(batch, path,
        txn = Some(s"batch$batchId"), statsCols = statsCols)
  }

  /** Streaming CDC → versioned lake: every micro-batch lands as one lake
    * version (append commit = O(batch), never O(table)), old snapshots
    * stay time-travel-readable, and replays are idempotent via
    * [[commitBatchIdempotent]].  The continuous-ingestion counterpart of
    * the batch `o5_time_travel` surface.
    *
    * `statsCols` records manifest min/max per micro-batch directory (a
    * time-ranged read then skips out-of-range batches from the manifest
    * alone — on an event-time-ordered stream nearly all of them);
    * `autoCompactDirs` bounds fragmentation by running the
    * [[graft.ops.LayoutOps.maybeCompact]] policy after each commit —
    * foreachBatch runs batches sequentially, so the policy never races
    * its own stream; on a replayed batch the commit is skipped
    * (already-committed txn) and the policy check is one cheap manifest
    * read that compacts only if the snapshot is genuinely fragmented. */
  def lakeSink(stream: DataFrame, path: String,
      checkpoint: String, statsCols: Seq[String] = Nil,
      autoCompactDirs: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        commitBatchIdempotent(batch, id, path, statsCols)
        if (autoCompactDirs > 0) {
          graft.ops.LayoutOps.maybeCompact(batch.sparkSession, path,
            maxDirs = autoCompactDirs, statsCols = statsCols)
          ()
        }
      }
      .start()

  /** Streaming MERGE-INTO sink for a plain-parquet lake: each micro-batch
    * is key-deduplicated and upserted into the target table via
    * `foreachBatch` + [[graft.ops.LayoutOps.upsert]], landing through
    * [[swapTable]] — readers never see a half-written table, but they see
    * none at all for the moment between the old table's delete and the
    * swap copy's rename (the versioned lake's [[lakeSink]] is the sink
    * with snapshot isolation).  With a checkpoint location the sink is
    * effectively-once: after a crash/restart, committed batches are not
    * reprocessed (the checkpoint's batch log) and a replayed in-flight
    * batch re-upserts the same keys — idempotent by construction.  This
    * is the streaming→lakehouse integration a 100 TB ingest pipeline runs
    * all day: CDC in, queryable parquet out, no table format required. */
  def upsertSink(stream: DataFrame, key: String, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        val updates = batch.dropDuplicates(key)
        swapTable(batch.sparkSession, path)(_.fold(updates)(
          graft.ops.LayoutOps.upsert(_, updates, key)))
      }
      .start()
}
