package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.streaming.StreamingOps

/** Event analytics over the events fact: sessions, funnels, windows,
  * as-of and interval joins, point-in-time features, and skew-aware joins.
  * Names: `ev`, `join`, `skew`. */
object EventQueries extends QuerySet {


  /** The `ev_funnel` oracle, shared with the queries that wrap it. */
  private lazy val EvFunnelSql: String =
    """WITH s AS (
      |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
      |  FROM events GROUP BY user_id
      |)
      |SELECT user_id, CAST(list_reduce(list_prepend('0', seq), (acc, x) ->
      |  CASE WHEN acc = '0' AND x = 'signup' THEN '1'
      |       WHEN acc = '1' AND x = 'view' THEN '2'
      |       WHEN acc = '2' AND x = 'purchase' THEN '3'
      |       ELSE acc END) AS INTEGER) AS stage
      |FROM s""".stripMargin

  // anchored regex, not a full JSON parse — ~20× cheaper per row on the
  // fixed machine format (same rationale as ev_item_trend)
  private def itemCol =
    nullif(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1), lit(""))
      .cast("int")

  private val BenfordP: Seq[(Int, Double)] = Seq(
    1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
    3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
    5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
    7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
    9 -> 0.04575749056067514)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Skewed aggregation: two-phase salted count/sum — results are exactly
    // the plain GROUP BY (integer aggs are associative), which is what the
    // oracle checks; the salting only changes the physical fan-in.
    "skew_salted_agg" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      SkewOps.saltedCount(li, col("l_returnflag"),
          saltSource = col("l_orderkey"))
        .withColumnRenamed("key", "l_returnflag")
        .join(
          SkewOps.saltedSumLong(li, col("l_returnflag"), col("l_quantity"),
              saltSource = col("l_orderkey"))
            .withColumnRenamed("key", "l_returnflag")
            .withColumnRenamed("sum", "qty_sum"),
          Seq("l_returnflag"))
    }),

    // Recency-weighted per-user activity mass over the events stream
    // (half-life 7 days, exact micro-unit sums)
    "ev_recency_weights" -> ((s, dir) =>
      StreamingOps.recencyWeights(Tables.events(s, dir),
        halfLifeDays = 7.0)),

    // As-of join: every click annotated with the user's latest purchase
    // at-or-before it — one key shuffle, running last() over the
    // interleaved timeline, no inequality join
    "ev_asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventOps.asofJoin(
        e.where(col("event_type") === "click"), col("event_id"),
        col("user_id"), col("ts"),
        e.where(col("event_type") === "purchase"), col("event_id"),
        col("user_id"), col("ts"), col("value"))
    }),

    // Ordered funnel: furthest signup → view → purchase stage per user
    // (strictly time-ordered, fold over the sorted per-user sequence)
    "ev_funnel" -> ((s, dir) =>
      EventOps.funnelStages(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_id"), col("event_type"),
        Seq("signup", "view", "purchase"))),

    // Bounded range join: every error within 1 h at-or-after a click by
    // the same user — time-bucketed equi-join, not a nested loop
    "ev_range_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventOps.rangeJoinPairs(
        e.where(col("event_type") === "click"), col("event_id"),
        col("user_id"), col("ts"),
        e.where(col("event_type") === "error"), col("event_id"),
        col("user_id"), col("ts"), windowMs = 3600000L)
    }),

    // Salted hot-key join: every doc joined to its language's corpus-wide
    // doc count — lang has ~5 values, the canonical single-hot-key shape;
    // the salt spreads each language across 8 reducers
    "skew_salted_join" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val dim = d.groupBy("lang").agg(count(lit(1)).as("lang_docs"))
      SkewOps.saltedJoin(d.select("doc_id", "lang"), dim, "lang",
          salts = 8, saltSource = col("doc_id"))
        .select("doc_id", "lang", "lang_docs")
    }),

    // Weekly cohort retention triangle: distinct users active k weeks
    // after their first-event week — ONE user-keyed shuffle
    "ev_cohort_retention" -> ((s, dir) =>
      EventOps.cohortRetention(Tables.events(s, dir), col("user_id"),
        col("ts"))),

    // Per-user inter-event gap card: count, span, max and exact-median
    // gap in ms — array folds inside one aggregate, no window
    "ev_gaps" -> ((s, dir) =>
      EventOps.interEventGaps(Tables.events(s, dir), col("user_id"),
        col("ts"))),

    // Gap-timeout (30 min) sessions folded per user in ONE aggregate;
    // a session converts when it contains a purchase
    "ev_session_conversion" -> ((s, dir) =>
      EventOps.sessionConversion(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_id"), col("event_type"), "purchase",
        gapMs = 1800000L)),

    // |z| > 3 value outliers per event type — milli-unit integer moments,
    // broadcast stats, zero event-stream shuffles
    "ev_value_outliers" -> ((s, dir) =>
      EventOps.valueOutliers(Tables.events(s, dir), col("event_id"),
        col("event_type"), col("value"))),

    // Window-ranking surface (§2.7 gap): users ranked per event type by
    // exact total cents — rank/dense_rank are tie-stable, so no
    // tiebreaker column is needed for determinism
    "ev_user_rank" -> ((s, dir) => {
      val cents = round(col("value") * 100).cast("long")
      val w = Window.partitionBy("event_type").orderBy(col("cents").desc)
      Tables.events(s, dir)
        .groupBy("event_type", "user_id").agg(sum(cents).as("cents"))
        .select(col("event_type"), col("user_id"), col("cents"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"))
    }),

    // Diurnality check: exact-moment Pearson r between value and
    // hour-of-day per event type
    "ev_value_corr" -> ((s, dir) =>
      EventOps.valueHourCorr(Tables.events(s, dir), col("event_type"),
        col("value"), col("ts"))),

    // Dense hourly activity: every (hour, type) cell between the corpus
    // min and max hour, zero-filled — the sequence+explode calendar
    // spine, no driver loop, no generator UDF
    "ev_hourly_dense" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        floor(floor(unix_micros(col("ts")) / 1000) / 3600000).cast("long")
          .as("h"))
      val hours = e.agg(min("h").as("h0"), max("h").as("h1"))
        .select(explode(sequence(col("h0"), col("h1"))).as("h"))
      val types = e.select("event_type").distinct()
      val counts = e.groupBy("event_type", "h").agg(count(lit(1)).as("n"))
      hours.crossJoin(broadcast(types))
        .join(counts, Seq("event_type", "h"), "left")
        .na.fill(0L, Seq("n"))
    }),

    // User-journey structure: corpus (from -> to) transition counts and
    // row-normalized probabilities — pairs fold inside one aggregate,
    // output |types|²-bounded
    "ev_transitions" -> ((s, dir) =>
      EventOps.transitionMatrix(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_id"), col("event_type"))),

    // Interval lookup: every event graded by a tiny band table joined on
    // lo <= value < hi — broadcast nested-loop on a literal-sized build
    // side, the IP-to-geo / value-banding enrich shape
    "ev_interval_lookup" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(("low", 0.0, 10.0), ("mid", 10.0, 100.0),
        ("high", 100.0, 1e9)).toDF("band", "lo", "hi")
      Tables.events(s, dir)
        .join(broadcast(bands),
          col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("event_type", "band")
        .agg(count(lit(1)).as("n"))
    }),

    // Funnel conversion rates: users reaching AT LEAST stage k for every
    // stage 0..3 (dense spine — empty stages report 0), plus the
    // k-1 -> k conversion rate — triangle join on the tiny histogram,
    // no window
    "ev_funnel_rates" -> ((s, dir) => {
      val steps = Seq("signup", "view", "purchase")
      val f = EventOps.funnelStages(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_id"), col("event_type"), steps)
      val h = f.groupBy("stage").agg(count(lit(1)).as("n"))
      val spine = s.range(0, steps.size + 1L)
        .select(col("id").cast("int").as("stage"))
      val atLeast = spine.as("a")
        .join(h.as("b"), col("b.stage") >= col("a.stage"), "left")
        .groupBy(col("a.stage").as("stage"))
        .agg(coalesce(sum(col("b.n")), lit(0L)).as("n_at_least"))
      atLeast.as("x")
        .join(atLeast.as("y"), col("y.stage") === col("x.stage") - 1, "left")
        .select(col("x.stage").as("stage"), col("x.n_at_least"),
          when(col("y.n_at_least") > 0,
            round(col("x.n_at_least").cast("double") / col("y.n_at_least"),
              6)).as("conv_from_prev"))
    }),

    // Seasonal anomaly: hours whose count deviates > 2 sd from the SAME
    // hour-of-day baseline for that event type — exact integer moments
    "ev_hourly_anomalies" -> ((s, dir) =>
      EventOps.hourlyAnomalies(Tables.events(s, dir), col("event_type"),
        col("ts"))),

    // Session-length distribution: gap-sessionized (30 min) durations
    // bucketed per minute, top-coded at 120 — the engagement histogram
    "ev_session_hist" -> ((s, dir) =>
      StreamingOps.sessionize(Tables.events(s, dir), gapMs = 1800000L)
        .groupBy(least(floor((col("end_ms") - col("start_ms")) / 60000),
          lit(120L)).cast("long").as("dur_min"))
        .agg(count(lit(1)).as("n_sessions"),
          sum("n_events").as("events"))),

    // DAU / WAU stickiness: distinct daily actives over distinct weekly
    // actives for the day's ISO-agnostic epoch week — two distinct
    // aggregates on (user, period) pairs, a broadcast week join
    "ev_dau_wau" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val ms = floor(unix_micros(col("ts")) / 1000)
      val day = floor(ms / 86400000L).cast("long")
      val pairs = e.select(col("user_id"), day.as("day"),
        (day.cast("long") / 7L).cast("long").as("wk")).distinct()
      val dau = pairs.select("user_id", "day", "wk").distinct()
        .groupBy("day", "wk").agg(count(lit(1)).as("dau"))
      val wau = pairs.select("user_id", "wk").distinct()
        .groupBy("wk").agg(count(lit(1)).as("wau"))
      dau.join(broadcast(wau), "wk")
        .select(col("day"), col("dau"), col("wau"),
          round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
    }),

    // Last-touch attribution with a 24 h window: each purchase attributed
    // to the user's latest click at-or-before it, kept only when the
    // click is within the window — daily attributed-conversion counts.
    // Composes the as-of join (one key shuffle) + an id-keyed lookup of
    // the matched click's timestamp.
    "ev_attribution" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.where(col("event_type") === "purchase")
      val clicks = e.where(col("event_type") === "click")
      val matched = EventOps.asofJoin(
        purchases, col("event_id"), col("user_id"), col("ts"),
        clicks, col("event_id"), col("user_id"), col("ts"), col("value"))
      val clickTs = clicks.select(col("event_id").as("matched_id"),
        floor(unix_micros(col("ts")) / 1000).as("click_ms"))
      matched.where(col("matched_id").isNotNull)
        .withColumn("p_ms", floor(unix_micros(col("ts")) / 1000))
        .join(clickTs, "matched_id")
        .where(col("p_ms") - col("click_ms") <= 86400000L)
        .groupBy(floor(col("p_ms") / 86400000L).cast("long").as("day"))
        .agg(count(lit(1)).as("n_attributed"))
    }),

    // Click→purchase conversion-lag histogram (hours, top-coded at 48):
    // same as-of attribution pairs as ev_attribution, bucketed by lag
    "ev_conversion_lag" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.where(col("event_type") === "purchase")
      val clicks = e.where(col("event_type") === "click")
      val matched = EventOps.asofJoin(
        purchases, col("event_id"), col("user_id"), col("ts"),
        clicks, col("event_id"), col("user_id"), col("ts"), col("value"))
      val clickTs = clicks.select(col("event_id").as("matched_id"),
        floor(unix_micros(col("ts")) / 1000).as("click_ms"))
      matched.where(col("matched_id").isNotNull)
        .withColumn("p_ms", floor(unix_micros(col("ts")) / 1000))
        .join(clickTs, "matched_id")
        .groupBy(least(floor((col("p_ms") - col("click_ms")) / 3600000),
          lit(48L)).cast("long").as("lag_hours"))
        .agg(count(lit(1)).as("n"))
    }),

    // Exact join-output census WITHOUT running the join: the click×purchase
    // self-join's cardinality and worst per-key fan-out, computed from two
    // map-side-combinable per-key count tables — the pre-flight guard that
    // catches a many-to-many blow-up before a 100 TB join is launched.
    "join_size_census" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      JoinOps.joinSizeCensus(
        e.where(col("event_type") === "click"), col("user_id"),
        e.where(col("event_type") === "purchase"), col("user_id"))
    }),

    // Bloom-pruned fact⋈dim: lineitem rows are dropped BELOW the shuffle by
    // a bloom of the urgent orders' keys, then the exact join removes the
    // false positives — the result is bit-identical to the plain join
    // (monthly urgent revenue), with shuffle volume ∝ true selectivity.
    "join_bloom_prune" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      val pruned = JoinOps.bloomSemiPrune(l, col("l_orderkey"),
        o, col("o_orderkey"), expectedItems = 100000L)
      pruned.join(o.select(col("o_orderkey"), col("o_orderdate")),
          pruned("l_orderkey") === col("o_orderkey"))
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .as("ym"))
        .agg((sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * lit(1000000.0)).cast("long")).cast("double") / lit(1000000.0))
          .as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Dense hourly value series per event type with interior gaps filled by
    // exact linear interpolation (micro-unit fixed point, 6 dp).
    "ev_interpolate" -> ((s, dir) =>
      EventOps.interpolateHourly(Tables.events(s, dir),
        col("event_type"), col("ts"), col("value"))),

    // Event-sourced SCD-2 build: each user's purchase-value observations
    // become validity intervals [valid_from, valid_to) with the open
    // interval flagged current — the temporal dimension table an as-of
    // join probes.
    "ev_scd2" -> ((s, dir) =>
      EventOps.scd2Intervals(
        Tables.events(s, dir).where(col("event_type") === "purchase"),
        col("user_id"), col("ts"), col("event_id"), col("value"))),

    // Corpus-wide order-3 path mining: every user's time-ordered
    // event-type sequence cut into sliding trigrams, counted.
    "ev_path_trigrams" -> ((s, dir) =>
      EventOps.pathNgrams(Tables.events(s, dir), col("user_id"), col("ts"),
        col("event_id"), col("event_type"), n = 3)),

    // Incremental rollup maintenance: the (type, day) count/value rollup
    // built as TWO partial rollups (even/odd days) merged by re-sum — the
    // oracle is the direct rollup of all events, so the merge invariant
    // (partials are associative) is what the gate checks.
    "ev_rollup_merge" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("day",
          floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
        .withColumn("vmic",
          floor(col("value") * lit(1000000.0)).cast("long"))
      def roll(d: DataFrame): DataFrame =
        d.groupBy("event_type", "day")
          .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
      LayoutOps.mergeRollups(
        roll(e.where(pmod(col("day"), lit(2)) === 0)),
        roll(e.where(pmod(col("day"), lit(2)) === 1)),
        keys = Seq("event_type", "day"), sumCols = Seq("n", "vmic"))
    }),

    // Point-in-time features at purchase time: same-user click counts in
    // the trailing 1 h and 24 h, one window pass, leakage-safe frames.
    "ev_trailing_features" -> ((s, dir) =>
      EventOps.trailingFeatures(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_id"), col("event_type"),
        target = "purchase", signal = "click",
        horizonsMs = Seq(3600000L, 86400000L))),

    // Per-type OLS trend of hourly activity: slope/intercept from exact
    // integer sums over group-rebased hour indexes, one double division.
    "ev_trend_slope" -> ((s, dir) =>
      EventOps.trendSlope(Tables.events(s, dir), col("event_type"),
        col("ts"))),

    // Per-type skewness / excess kurtosis from decimal(38,0) power sums —
    // the distribution-shape card behind outlier-gate tuning.
    "ev_value_moments" -> ((s, dir) =>
      EventOps.valueMoments(Tables.events(s, dir), col("event_type"),
        col("value"))),

    // Two-arm experiment readout over the synthetic split user_id % 2:
    // per-arm n/mean and the Welch z of the value difference — six longs
    // shuffle, not rows.
    "ev_ab_test" -> ((s, dir) =>
      EventOps.abTestCard(Tables.events(s, dir),
        pmod(col("user_id"), lit(2)), col("value"))),

    // Co-visitation similarity over the JSON item id in props: users
    // touching both items of a pair, with lift vs independence — the
    // item-to-item recommendation table.
    "ev_item_cooc" -> ((s, dir) =>
      EventOps.itemCooc(Tables.events(s, dir), col("user_id"), itemCol)),

    // Catalog-concentration card: Gini of per-item click mass (0 uniform,
    // →1 winner-takes-all) from exact integer sums.
    "ev_item_gini" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(itemCol.as("item")).where(col("item").isNotNull)
      EventOps.giniConcentration(e.groupBy("item")
        .agg(count(lit(1)).as("w")), col("item"), col("w"))
    }),

    // Does clicking lead purchasing?  Pearson r of the two hourly series
    // at lags 0..3 over the dense shared spine (missing hours are real
    // zeros) — integer moment sums, one fixed-order double expression.
    "ev_xcorr" -> ((s, dir) =>
      EventOps.crossCorrelation(Tables.events(s, dir), col("event_type"),
        col("ts"), typeA = "click", typeB = "purchase", maxLag = 3)),

    // Ingestion-lag card: per event type, how far its newest event trails
    // the newest event overall — the is-a-producer-stuck dashboard row.
    "ev_ingest_lag" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
      val perType = e.groupBy("event_type").agg(max("us").as("max_us"),
        count(lit(1)).as("n"))
      perType.crossJoin(broadcast(e.agg(max("us").as("global_us"))))
        .select(col("event_type"), col("n"),
          ((col("global_us") - col("max_us")) / lit(60000000L)).cast("long")
            .as("lag_minutes"))
    }),

    // Segment-overlap matrix: for every event-type pair, the distinct
    // users doing BOTH and the Jaccard of the two audiences — the
    // audience-similarity card behind segment dedup and mix design.  The
    // incidence is deduplicated first, so everything downstream is
    // segment-cardinality-sized.
    "ev_audience_overlap" -> ((s, dir) => {
      val ut = Tables.events(s, dir)
        .select(col("user_id").as("u"), col("event_type").as("t")).distinct()
      val sizes = ut.groupBy("t").agg(count(lit(1)).as("n"))
      val b = ut.select(col("u"), col("t").as("t_b"))
      ut.join(b, ut("u") === b("u") && col("t") < col("t_b"))
        .groupBy(col("t").as("ta"), col("t_b").as("tb"))
        .agg(count(lit(1)).as("n_both"))
        .join(broadcast(sizes.select(col("t").as("ta"), col("n").as("na"))), "ta")
        .join(broadcast(sizes.select(col("t").as("tb"), col("n").as("nb"))), "tb")
        .select(col("ta"), col("tb"), col("n_both"),
          round(col("n_both").cast("double") /
            (col("na") + col("nb") - col("n_both")).cast("double"), 6)
            .as("jaccard"))
    }),

    // Benford's-law forensic on the value column (integer cents → first
    // digit via integer formatting, identical across engines): observed
    // vs expected digit mass and the per-digit chi-square contribution —
    // fabricated or capped metrics jump off this table.
    "ev_benford" -> ((s, dir) => {
      val vm = round(col("value") * 100).cast("long")
      val e = Tables.events(s, dir)
        .select(vm.as("vm")).where(col("vm") > 0)
        .select(substring(col("vm").cast("string"), 1, 1).cast("int")
          .as("digit"))
      val obs = e.groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val expRows = BenfordP.map { case (d, p) =>
        struct(lit(d).as("digit"), lit(p).as("p"))
      }
      val expected = obs.sparkSession.range(1)
        .select(explode(array(expRows: _*)).as("e"))
        .select(col("e.digit"), col("e.p"))
      val tot = obs.agg(sum("n_obs").as("n")).
        select(col("n"))
      obs.join(broadcast(expected), "digit")
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"),
          round(col("n").cast("double") * col("p"), 6).as("n_expected"),
          round(
            (col("n_obs").cast("double") - col("n").cast("double") * col("p")) *
              (col("n_obs").cast("double") - col("n").cast("double") * col("p")) /
              (col("n").cast("double") * col("p")), 6).as("chi2_part"))
    }),

    // Exponentially-weighted level of each type's hourly count series —
    // the forecasting/alerting baseline.  EWMA is an inherently ORDERED
    // fold, the classic trap for distributed determinism; here the fold
    // runs INSIDE the per-type aggregate over the sorted (calendar-
    // bounded) hourly array, in INTEGER arithmetic
    // (s' = (20·x·10⁶ + 80·s) div 100, α = 0.2 in micro-units), so the
    // result is bit-identical under any partitioning AND in the SQL
    // mirror's list_reduce.  Emits the final level and the peak level.
    "ev_ewma" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val hr = floor(unix_micros(col("ts")) / lit(3600000000L)).cast("long")
      val hourly = e.select(col("event_type"), hr.as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("y"))
      hourly.groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("hr"), col("y"))))
          .as("series"))
        .select(col("event_type"),
          size(col("series")).cast("long").as("n_hours"),
          aggregate(col("series"),
            struct(lit(0L).as("level"), lit(0L).as("peak")),
            (acc, x) => {
              val num = lit(20L) * x.getField("y") * lit(1000000L) +
                lit(80L) * acc.getField("level")
              // exact integer division: subtract the remainder first, so
              // the double quotient is an exactly-representable integer
              val lvl = ((num - pmod(num, lit(100L))) / lit(100L))
                .cast("long")
              struct(lvl.as("level"),
                greatest(lvl, acc.getField("peak")).as("peak"))
            }).as("st"))
        .select(col("event_type"), col("n_hours"),
          col("st.level").as("ewma_micro"), col("st.peak").as("peak_micro"))
    }),

    // CUPED (controlled-experiment using pre-experiment data): per-user
    // pre-period value mass is the covariate, post-period mass the
    // metric; θ = cov(x,y)/var(x) pooled, each arm's mean adjusted by
    // −θ(x̄ₐ−x̄).  All sufficient statistics are exact integer/decimal
    // sums from ONE user-level aggregate + one global aggregate; θ and
    // the adjusted means are fixed-order double arithmetic at 6 dp.
    // The variance-reduction readout modern experimentation stacks run.
    "ev_cuped" -> ((s, dir) => {
      val cut = 19737L  // 2024-01-15
      val e = Tables.events(s, dir)
        .withColumn("day",
          floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
        .withColumn("vm", round(col("value") * 1000).cast("long"))
      val perUser = e.groupBy(col("user_id"))
        .agg(sum(when(col("day") < cut, col("vm")).otherwise(0L)).as("x"),
          sum(when(col("day") >= cut, col("vm")).otherwise(0L)).as("y"))
        .withColumn("arm", pmod(col("user_id"), lit(2)))
      val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val sums = perUser.agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(d(col("x")) * col("y")).as("sxy"),
        sum(d(col("x")) * col("x")).as("sxx"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sx0"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sy0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("sx1"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("sy1"))
      val n = col("n").cast("double")
      val theta =
        (n * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (n * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double"))
      val xbar = col("sx").cast("double") / n
      def adj(syA: String, sxA: String, nA: String) =
        (col(syA).cast("double") / col(nA).cast("double")) -
          theta * ((col(sxA).cast("double") / col(nA).cast("double")) - xbar)
      sums.select(col("n0"), col("n1"),
        round(theta, 6).as("theta"),
        round(adj("sy0", "sx0", "n0") / lit(1000.0), 6).as("adj_mean0"),
        round(adj("sy1", "sx1", "n1") / lit(1000.0), 6).as("adj_mean1"),
        round((adj("sy1", "sx1", "n1") - adj("sy0", "sx0", "n0")) /
          lit(1000.0), 6).as("adj_diff"))
    }),

    // Information-theoretic predictability: H(next | current) under the
    // first-order model, Σ p(s)·H(·|s) — the entropy-rate companion to
    // the modal-accuracy backtest (low rate = exploitable structure).
    // Each -p·ln(p) term is nano-floored to a long BEFORE summation, so
    // the result is partition/order-immune and engine-exact; the |types|²
    // table is the only input.
    "ev_entropy_rate" -> ((s, dir) => {
      val m = EventOps.transitionMatrix(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .persist()
      graft.core.CacheScope.register(m)
      // term per (s, t): floor( (n_st/n_s)·ln(n_s/n_st) · w_s · 1e9 )
      // with w_s = n_s/N — all ratios from exact integers, fixed order
      val perFrom = m.groupBy("from_type").agg(sum("n").as("ns"))
      // the grand total derives from the TYPES-bounded per-from table —
      // no second pass over the corpus-sized transition build
      val tot = perFrom.agg(sum("ns").as("total"))
      m.select(col("from_type"), col("to_type"), col("n"))
        .join(broadcast(perFrom), "from_type")
        .crossJoin(broadcast(tot))
        .select(floor(
          (col("n").cast("double") / col("ns").cast("double")) *
            log(col("ns").cast("double") / col("n").cast("double")) *
            (col("ns").cast("double") / col("total").cast("double")) *
            lit(1e9)).cast("long").as("term"))
        .agg((sum("term").cast("double") / lit(1e9)).as("h"))
        .select(round(col("h"), 6).as("entropy_rate_nats"))
    }),

    // Which catalog items are growing?  The OLS hourly-trend card keyed
    // by the JSON item id — catalog-bounded output, exact integer sums,
    // one double division per item.
    // item extraction via anchored regex, not a full JSON parse: the
    // props column is a fixed machine format and get_json_object's
    // per-row Jackson parse measured ~20x slower at the 10x scale
    "ev_item_trend" -> ((s, dir) =>
      EventOps.trendSlope(
        Tables.events(s, dir)
          .select(nullif(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1),
            lit("")).cast("int").as("item"), col("ts"))
          .where(col("item").isNotNull),
        col("item"), col("ts"))
        .withColumnRenamed("event_type", "item")),

    "ev_asof_native" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventOps.asofJoinNative(
        e.where(col("event_type") === "click"), col("event_id"),
        col("user_id"), col("ts"),
        e.where(col("event_type") === "purchase"), col("event_id"),
        col("user_id"), col("ts"), col("value"))
    }),

    // forward direction: the NEXT purchase at-or-after each click —
    // smallest (ts, id) with r.ts >= l.ts
    "ev_asof_forward" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventOps.asofJoinNative(
        e.where(col("event_type") === "click"), col("event_id"),
        col("user_id"), col("ts"),
        e.where(col("event_type") === "purchase"), col("event_id"),
        col("user_id"), col("ts"), col("value"), forward = true)
    }),

    // nearest direction: the closest purchase on EITHER side of each
    // click; a tie in |Δ| goes to the backward row
    "ev_asof_nearest" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventOps.asofJoinNative(
        e.where(col("event_type") === "click"), col("event_id"),
        col("user_id"), col("ts"),
        e.where(col("event_type") === "purchase"), col("event_id"),
        col("user_id"), col("ts"), col("value"), nearest = true)
    }),

    // staleness-bounded backward match (pandas merge_asof tolerance):
    // the latest purchase within ONE HOUR before each click
    "ev_asof_tolerance" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventOps.asofJoinNative(
        e.where(col("event_type") === "click"), col("event_id"),
        col("user_id"), col("ts"),
        e.where(col("event_type") === "purchase"), col("event_id"),
        col("user_id"), col("ts"), col("value"), toleranceMs = 3600000L)
    }),

    // Within-session item co-occurrence: the co-visitation table at the
    // browsing-intent granularity (30-min gap sessions)
    "ev_item_session_cooc" -> ((s, dir) => {
      val item =
        nullif(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1), lit(""))
          .cast("int")
      graft.ops.EventOps.sessionItemCooc(Tables.events(s, dir), item,
        gapMs = 1800000L)
    }),

    // RFM segmentation of purchasers: exact quintiles via the
    // range-partitioned Ranker, (R, F, M) cell census
    "ev_rfm" -> ((s, dir) =>
      graft.ops.EventOps.rfmSegments(
        Tables.events(s, dir).where(col("event_type") === "purchase"),
        col("user_id"), col("ts"), col("value"))),

    // signup → view → purchase, each later stage within 1 h of the prior
    "ev_funnel_windowed" -> ((s, dir) =>
      EventOps.funnelStagesWindowed(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_id"), col("event_type"),
        Seq("signup", "view", "purchase"), windowMs = 3600000L)),

    // Spark's NATIVE session_window operator (batch form), 30-min gap —
    // same session semantics as the composed sessionize (whose oracle CTE
    // this reuses minus the session numbering); end = window end − gap =
    // the last event's timestamp
    "ev_sessions_native" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      e.groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          (sum(floor(col("value") * 1000000.0).cast("long")).cast("double")
            / 1000000.0).as("value_sum"))
        .select(col("user_id"),
          unix_millis(col("w.start")).as("start_ms"),
          (unix_millis(col("w.end")) - 1800000L).as("end_ms"),
          col("n_events"), col("value_sum"))
    })
  )

  def oracles: Map[String, String] = Map(

    "skew_salted_agg" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "ev_recency_weights" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |mx AS (SELECT max(ms) AS mx FROM e),
        |w AS (
        |  SELECT user_id,
        |    CAST(floor(round(
        |      exp(-0.6931471805599453 * (mx.mx - e.ms) / (7.0 * 86400000.0)),
        |      6) * 1000000.0) AS BIGINT) AS w6
        |  FROM e CROSS JOIN mx
        |)
        |SELECT user_id, count(*) AS n_events,
        |  sum(w6)::DOUBLE / 1000000.0 AS recency_mass
        |FROM w GROUP BY user_id""".stripMargin,

    // deterministic explicit form of ASOF LEFT JOIN: latest right ts,
    // greatest right id on ties — the operator's documented tie-break
    "ev_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT l.event_id AS lid, r.event_id AS rid, r.value AS rv,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.ts DESC, r.event_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |)
        |SELECT l.event_id AS left_id, l.user_id AS k, l.ts,
        |  j.rid AS matched_id, j.rv AS matched_value
        |FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.lid = l.event_id""".stripMargin,

    // the same stage automaton as a string-state list_reduce over the
    // (ts, event_id)-ordered per-user sequence
    "ev_funnel" -> EvFunnelSql,

    // plain inequality join on exact millisecond epochs — the ground
    // truth the bucketed equi-join must reproduce
    "ev_range_join" ->
      """WITH a AS (SELECT event_id, user_id, epoch_us(ts) // 1000 AS ms
        |  FROM events WHERE event_type = 'click'),
        |b AS (SELECT event_id, user_id, epoch_us(ts) // 1000 AS ms
        |  FROM events WHERE event_type = 'error')
        |SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id AS k,
        |  b.ms - a.ms AS gap_ms
        |FROM a JOIN b ON a.user_id = b.user_id
        |WHERE b.ms >= a.ms AND b.ms - a.ms <= 3600000
        |  AND a.event_id <> b.event_id""".stripMargin,

    "skew_salted_join" ->
      """WITH c AS (SELECT lang, count(*)::BIGINT AS lang_docs
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, c.lang_docs
        |FROM documents d JOIN c USING (lang)""".stripMargin,

    "ev_cohort_retention" ->
      """WITH u AS (SELECT DISTINCT user_id,
        |    (epoch_us(ts) // 1000) // 604800000 AS p FROM events),
        |f AS (SELECT user_id, min(p) AS cohort FROM u GROUP BY user_id)
        |SELECT f.cohort, u.p - f.cohort AS period_offset,
        |  count(*)::BIGINT AS n_users
        |FROM u JOIN f ON u.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,

    "ev_gaps" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 1000 AS ms FROM events),
        |a AS (SELECT user_id, list_sort(list(ms)) AS arr FROM e GROUP BY user_id),
        |g AS (SELECT user_id, arr, len(arr) AS n,
        |    CASE WHEN len(arr) > 1 THEN
        |      list_transform(generate_series(1, len(arr) - 1), i -> arr[i + 1] - arr[i])
        |    END AS gaps
        |  FROM a)
        |SELECT user_id, n::BIGINT AS n_events,
        |  (arr[n] - arr[1])::BIGINT AS span_ms,
        |  list_max(gaps)::BIGINT AS max_gap_ms,
        |  (list_sort(gaps))[CAST(ceil(len(gaps) / 2.0) AS INTEGER)]::BIGINT AS median_gap_ms
        |FROM g""".stripMargin,

    "ev_session_conversion" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS cv
        |  FROM events),
        |o AS (SELECT *, lag(ms) OVER (PARTITION BY user_id
        |    ORDER BY ms, event_id) AS pms FROM e),
        |s AS (SELECT *, sum(CASE WHEN pms IS NULL OR ms - pms > 1800000
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o),
        |g AS (SELECT user_id, sid, max(cv) AS conv FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*)::BIGINT AS n_sessions,
        |  sum(conv)::BIGINT AS n_converted,
        |  round(sum(conv)::DOUBLE / count(*), 6) AS conv_rate
        |FROM g GROUP BY user_id""".stripMargin,

    "ev_value_outliers" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
        |st AS (SELECT event_type, count(*)::BIGINT AS n, sum(vm)::BIGINT AS s,
        |    sum((vm * vm)::DECIMAL(38,0)) AS sq FROM e GROUP BY 1),
        |j AS (SELECT e.event_id, e.event_type, e.vm,
        |    st.sq::DOUBLE / st.n -
        |      (st.s::DOUBLE / st.n) * (st.s::DOUBLE / st.n) AS var,
        |    (e.vm::DOUBLE - st.s::DOUBLE / st.n) /
        |      sqrt(st.sq::DOUBLE / st.n -
        |        (st.s::DOUBLE / st.n) * (st.s::DOUBLE / st.n)) AS z
        |  FROM e JOIN st USING (event_type))
        |SELECT event_id, event_type, vm AS value_milli, round(z, 6) AS z
        |FROM j WHERE var > 0 AND abs(z) > 3.0""".stripMargin,

    "ev_user_rank" ->
      """WITH g AS (
        |  SELECT event_type, user_id,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, user_id, cents,
        |  rank() OVER (PARTITION BY event_type ORDER BY cents DESC)::BIGINT AS rnk,
        |  dense_rank() OVER (PARTITION BY event_type ORDER BY cents DESC)::BIGINT AS drnk
        |FROM g""".stripMargin,

    "ev_value_corr" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(round(value * 1000) AS BIGINT) AS vm,
        |    ((epoch_us(ts) // 1000) // 3600000) % 24 AS h
        |  FROM events),
        |st AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(vm)::BIGINT AS sx,
        |    sum(h)::BIGINT AS sy, sum(vm * h)::BIGINT AS sxy,
        |    sum(vm::HUGEINT * vm) AS sxx, sum(h * h)::BIGINT AS syy
        |  FROM e GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN (n::HUGEINT * sxx - sx::HUGEINT * sx) > 0
        |        AND (n::HUGEINT * syy - sy::HUGEINT * sy) > 0 THEN
        |    round((n::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE /
        |      (sqrt((n::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE) *
        |       sqrt((n::HUGEINT * syy - sy::HUGEINT * sy)::DOUBLE)), 6)
        |  END AS corr
        |FROM st""".stripMargin,

    "ev_hourly_dense" ->
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) // 1000) // 3600000 AS h FROM events),
        |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
        |hours AS (SELECT unnest(generate_series(h0, h1)) AS h FROM b),
        |types AS (SELECT DISTINCT event_type FROM e),
        |counts AS (SELECT event_type, h, count(*)::BIGINT AS n
        |  FROM e GROUP BY 1, 2)
        |SELECT t.event_type, hours.h, coalesce(c.n, 0)::BIGINT AS n
        |FROM hours CROSS JOIN types t
        |LEFT JOIN counts c ON c.event_type = t.event_type AND c.h = hours.h""".stripMargin,

    "ev_transitions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms,
        |    event_type FROM events),
        |o AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ms, event_id) AS nxt
        |  FROM e),
        |c AS (SELECT event_type AS from_type, nxt AS to_type,
        |    count(*)::BIGINT AS n
        |  FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  round(c.n::DOUBLE / t.tot, 6) AS p
        |FROM c JOIN t USING (from_type)""".stripMargin,

    "ev_interval_lookup" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('low', 0.0, 10.0), ('mid', 10.0, 100.0), ('high', 100.0, 1e9))
        |SELECT e.event_type, b.band, count(*)::BIGINT AS n
        |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY 1, 2""".stripMargin,

    "ev_funnel_rates" -> {
      val funnel = EvFunnelSql
      s"""WITH f AS ($funnel),
         |h AS (SELECT stage, count(*)::BIGINT AS n FROM f GROUP BY stage),
         |sp AS (SELECT unnest(generate_series(0, 3)) AS stage),
         |al AS (
         |  SELECT sp.stage, coalesce(sum(h.n), 0)::BIGINT AS n_at_least
         |  FROM sp LEFT JOIN h ON h.stage >= sp.stage GROUP BY sp.stage)
         |SELECT x.stage, x.n_at_least,
         |  CASE WHEN y.n_at_least > 0 THEN
         |    round(x.n_at_least::DOUBLE / y.n_at_least, 6) END AS conv_from_prev
         |FROM al x LEFT JOIN al y ON y.stage = x.stage - 1""".stripMargin
    },

    "ev_hourly_anomalies" ->
      """WITH hc AS (
        |  SELECT event_type, (epoch_us(ts) // 1000) // 3600000 AS h,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |hb AS (SELECT *, h % 24 AS hod FROM hc),
        |st AS (
        |  SELECT event_type, hod, count(*)::BIGINT AS m, sum(n)::BIGINT AS s,
        |    sum(n * n)::BIGINT AS sq
        |  FROM hb GROUP BY 1, 2),
        |j AS (
        |  SELECT hb.event_type, hb.h, hb.n,
        |    st.sq::DOUBLE / st.m -
        |      (st.s::DOUBLE / st.m) * (st.s::DOUBLE / st.m) AS var,
        |    (hb.n::DOUBLE - st.s::DOUBLE / st.m) /
        |      sqrt(st.sq::DOUBLE / st.m -
        |        (st.s::DOUBLE / st.m) * (st.s::DOUBLE / st.m)) AS z
        |  FROM hb JOIN st ON st.event_type = hb.event_type AND st.hod = hb.hod)
        |SELECT event_type, h, n, round(z, 6) AS z
        |FROM j WHERE var > 0 AND abs(z) > 2.0""".stripMargin,

    "ev_session_hist" -> {
      val sess = LakeQueries.oracles("stream_sessions")
      s"""WITH sess AS ($sess)
         |SELECT least((end_ms - start_ms) // 60000, 120)::BIGINT AS dur_min,
         |  count(*)::BIGINT AS n_sessions, sum(n_events)::BIGINT AS events
         |FROM sess GROUP BY 1""".stripMargin
    },

    "ev_dau_wau" ->
      """WITH p AS (
        |  SELECT DISTINCT user_id,
        |    (epoch_us(ts) // 1000) // 86400000 AS day,
        |    ((epoch_us(ts) // 1000) // 86400000) // 7 AS wk
        |  FROM events),
        |dau AS (SELECT day, wk, count(DISTINCT user_id)::BIGINT AS dau
        |  FROM p GROUP BY 1, 2),
        |wau AS (SELECT wk, count(DISTINCT user_id)::BIGINT AS wau
        |  FROM p GROUP BY 1)
        |SELECT d.day, d.dau, w.wau,
        |  round(d.dau::DOUBLE / w.wau, 6) AS stickiness
        |FROM dau d JOIN wau w USING (wk)""".stripMargin,

    // the as-of match orders at MICROsecond precision (the raw ts, as the
    // operator does); only the window-gap arithmetic floors to ms
    "ev_attribution" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT l.event_id AS lid, l.us AS p_us, r.us AS c_us,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.us DESC, r.event_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.us <= l.us)
        |SELECT ((p_us // 1000) // 86400000)::BIGINT AS day,
        |  count(*)::BIGINT AS n_attributed
        |FROM j WHERE rn = 1 AND (p_us // 1000) - (c_us // 1000) <= 86400000
        |GROUP BY 1""".stripMargin,

    "ev_conversion_lag" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT l.event_id AS lid, l.us AS p_us, r.us AS c_us,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.us DESC, r.event_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.us <= l.us)
        |SELECT least(((p_us // 1000) - (c_us // 1000)) // 3600000, 48)::BIGINT
        |  AS lag_hours, count(*)::BIGINT AS n
        |FROM j WHERE rn = 1 GROUP BY 1""".stripMargin,

    "join_size_census" ->
      """WITH ca AS (SELECT user_id, count(*)::BIGINT AS ca FROM events
        |  WHERE event_type = 'click' GROUP BY 1),
        |cb AS (SELECT user_id, count(*)::BIGINT AS cb FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT count(*)::BIGINT AS n_keys,
        |  sum(ca * cb)::BIGINT AS join_rows,
        |  max(ca * cb)::BIGINT AS max_rows_per_key
        |FROM ca JOIN cb USING (user_id)""".stripMargin,

    // the oracle is the PLAIN join — the bloom prune is a superset filter
    // whose false positives the exact join removes, so results must match
    "join_bloom_prune" ->
      """SELECT (year(o_orderdate) * 100 + month(o_orderdate))::INT AS ym,
        |  sum(floor(l_extendedprice * (1 - l_discount) * 1000000.0)::BIGINT)::DOUBLE
        |    / 1000000.0 AS revenue,
        |  count(*)::BIGINT AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin,

    "ev_interpolate" ->
      """WITH h AS (SELECT event_type,
        |    (epoch_us(ts) // 3600000000)::BIGINT AS hr,
        |    sum(floor(value * 1000000.0)::BIGINT)::BIGINT AS vmic
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM h GROUP BY 1),
        |spine AS (SELECT event_type, unnest(generate_series(mn, mx)) AS hr FROM b),
        |j AS (SELECT s.event_type, s.hr, h.vmic FROM spine s
        |  LEFT JOIN h ON s.event_type = h.event_type AND s.hr = h.hr),
        |w AS (SELECT event_type, hr, vmic,
        |    last_value(vmic IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN vmic IS NOT NULL THEN hr END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY hr
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |    first_value(vmic IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY hr ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN vmic IS NOT NULL THEN hr END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY hr
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        |  FROM j)
        |SELECT event_type, hr, (vmic IS NULL) AS interpolated,
        |  round(CASE WHEN vmic IS NOT NULL THEN vmic::DOUBLE / 1000000.0
        |    ELSE pv::DOUBLE / 1000000.0 + ((nv - pv)::DOUBLE / 1000000.0)
        |      * ((hr - ph)::DOUBLE / (nh - ph)::DOUBLE) END, 6) AS val
        |FROM w""".stripMargin,

    "ev_scd2" ->
      """WITH p AS (SELECT user_id, value, epoch_us(ts) AS us, event_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id AS key, value AS attr, us AS valid_from_us,
        |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |    AS valid_to_us,
        |  (lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |    IS NULL) AS is_current
        |FROM p""".stripMargin,

    "ev_path_trigrams" ->
      """WITH s AS (SELECT user_id,
        |    list(event_type ORDER BY epoch_us(ts), event_id) AS types
        |  FROM events GROUP BY 1),
        |g AS (SELECT unnest(list_transform(
        |    generate_series(1, len(types) - 2),
        |    i -> array_to_string(types[i:i+2], '>'))) AS path
        |  FROM s WHERE len(types) >= 3)
        |SELECT path, count(*)::BIGINT AS cnt FROM g GROUP BY 1""".stripMargin,

    // the oracle is the DIRECT rollup — equality with the merged partial
    // rollups is exactly the incremental-maintenance invariant
    "ev_rollup_merge" ->
      """SELECT event_type,
        |  (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |  count(*)::BIGINT AS n,
        |  sum(floor(value * 1000000.0)::BIGINT)::BIGINT AS vmic
        |FROM events GROUP BY 1, 2""".stripMargin,

    "ev_trailing_features" ->
      """WITH b AS (SELECT user_id AS key, epoch_us(ts) AS us,
        |    event_id AS id, event_type AS typ,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS sig
        |  FROM events),
        |w AS (SELECT *,
        |    sum(sig) OVER (PARTITION BY key ORDER BY us
        |      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS f1,
        |    sum(sig) OVER (PARTITION BY key ORDER BY us
        |      RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS f24
        |  FROM b)
        |SELECT id AS event_id, key, us,
        |  f1::BIGINT AS n_click_3600000ms,
        |  f24::BIGINT AS n_click_86400000ms
        |FROM w WHERE typ = 'purchase'""".stripMargin,

    "ev_trend_slope" ->
      """WITH h AS (SELECT event_type,
        |    (epoch_us(ts) // 3600000000)::BIGINT AS hr, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, min(hr) AS mn FROM h GROUP BY 1),
        |s AS (SELECT h.event_type, count(*)::BIGINT AS n,
        |    sum(hr - mn)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum((hr - mn) * (hr - mn))::BIGINT AS sxx,
        |    sum((hr - mn) * y)::BIGINT AS sxy
        |  FROM h JOIN m USING (event_type) GROUP BY 1)
        |SELECT event_type, n,
        |  (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE AS slope,
        |  (sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
        |      / (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE) / n::DOUBLE
        |    AS intercept
        |FROM s""".stripMargin,

    // the moment arithmetic mirrors the Spark expression tree operand for
    // operand (left-assoc products, sqrt not pow) — see valueMoments
    "ev_value_moments" ->
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
        |sums AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(vm)::BIGINT AS s1,
        |    sum(vm::HUGEINT * vm) AS s2,
        |    sum(vm::HUGEINT * vm * vm) AS s3,
        |    sum(vm::HUGEINT * vm * vm * vm) AS s4
        |  FROM b GROUP BY 1),
        |d AS (SELECT event_type, n, n::DOUBLE AS nd,
        |    s1::DOUBLE / n::DOUBLE AS mean,
        |    s2::DOUBLE AS s2d, s3::DOUBLE AS s3d, s4::DOUBLE AS s4d
        |  FROM sums),
        |mom AS (SELECT event_type, n, mean,
        |    s2d / nd - mean * mean AS m2,
        |    s3d / nd - 3.0 * mean * (s2d / nd)
        |      + 2.0 * mean * mean * mean AS m3,
        |    s4d / nd - 4.0 * mean * (s3d / nd)
        |      + 6.0 * mean * mean * (s2d / nd)
        |      - 3.0 * mean * mean * mean * mean AS m4
        |  FROM d)
        |SELECT event_type, n, round(mean / 1000.0, 6) AS mean,
        |  round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
        |  round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
        |FROM mom""".stripMargin,

    "ev_ab_test" ->
      """WITH b AS (SELECT user_id % 2 AS arm,
        |    CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
        |s AS (SELECT
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN arm = 0 THEN vm ELSE 0 END)::BIGINT AS s0,
        |    sum(CASE WHEN arm = 0 THEN vm::HUGEINT * vm ELSE 0::HUGEINT END) AS q0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN arm = 1 THEN vm ELSE 0 END)::BIGINT AS s1,
        |    sum(CASE WHEN arm = 1 THEN vm::HUGEINT * vm ELSE 0::HUGEINT END) AS q1
        |  FROM b),
        |d AS (SELECT n0, n1, n0::DOUBLE AS n0d, n1::DOUBLE AS n1d,
        |    s0::DOUBLE / n0::DOUBLE AS m0, s1::DOUBLE / n1::DOUBLE AS m1,
        |    q0::DOUBLE / n0::DOUBLE AS q0n, q1::DOUBLE / n1::DOUBLE AS q1n
        |  FROM s)
        |SELECT n0, n1,
        |  round(m0 / 1000.0, 6) AS mean0,
        |  round(m1 / 1000.0, 6) AS mean1,
        |  round((m1 - m0) / sqrt((q1n - m1 * m1) / n1d
        |    + (q0n - m0 * m0) / n0d), 6) AS z
        |FROM d""".stripMargin,

    "ev_item_cooc" ->
      """WITH ui AS (SELECT DISTINCT user_id AS u,
        |    json_extract_string(props, '$.k')::INT AS item
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |ni AS (SELECT item, count(*)::BIGINT AS n_item FROM ui GROUP BY 1),
        |nu AS (SELECT count(DISTINCT u)::BIGINT AS n_users FROM ui),
        |p AS (SELECT a.item AS i, b.item AS j, count(*)::BIGINT AS n_co
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item
        |  GROUP BY 1, 2)
        |SELECT i, j, n_co,
        |  (n_co * n_users)::DOUBLE / (na.n_item * nb.n_item)::DOUBLE AS lift
        |FROM p JOIN ni na ON na.item = p.i JOIN ni nb ON nb.item = p.j
        |CROSS JOIN nu""".stripMargin,

    "ev_item_gini" ->
      """WITH w AS (SELECT json_extract_string(props, '$.k')::INT AS item,
        |    count(*)::BIGINT AS w
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
        |  GROUP BY 1),
        |r AS (SELECT w, row_number() OVER (ORDER BY w, item) AS rn FROM w),
        |s AS (SELECT count(*)::BIGINT AS n, sum(w)::BIGINT AS s,
        |    sum(rn * w)::BIGINT AS s1 FROM r)
        |SELECT n, s AS total,
        |  (2 * s1 - (n + 1) * s)::DOUBLE / (n * s)::DOUBLE AS gini
        |FROM s""".stripMargin,

    "ev_xcorr" ->
      """WITH h AS (SELECT event_type AS t,
        |    (epoch_us(ts) // 3600000000)::BIGINT AS hr, count(*)::BIGINT AS y
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |bnd AS (SELECT min(hr) AS mn, max(hr) AS mx FROM h),
        |spine AS (SELECT unnest(generate_series(mn, mx)) AS hr FROM bnd),
        |a AS (SELECT s.hr, coalesce(h.y, 0) AS ya FROM spine s
        |  LEFT JOIN h ON h.t = 'click' AND h.hr = s.hr),
        |b AS (SELECT s.hr, coalesce(h.y, 0) AS yb FROM spine s
        |  LEFT JOIN h ON h.t = 'purchase' AND h.hr = s.hr),
        |l AS (SELECT unnest(generate_series(0, 3)) AS lag),
        |j AS (SELECT l.lag, a.ya, b.yb
        |  FROM a CROSS JOIN l JOIN b ON b.hr = a.hr + l.lag),
        |s AS (SELECT lag, count(*)::BIGINT AS n, sum(ya)::BIGINT AS sa,
        |    sum(yb)::BIGINT AS sb, sum(ya * yb)::BIGINT AS sab,
        |    sum(ya * ya)::BIGINT AS saa, sum(yb * yb)::BIGINT AS sbb
        |  FROM j GROUP BY 1)
        |SELECT lag, n,
        |  round((n * sab - sa * sb)::DOUBLE
        |    / (sqrt((n * saa - sa * sa)::DOUBLE)
        |      * sqrt((n * sbb - sb * sb)::DOUBLE)), 6) AS r
        |FROM s""".stripMargin,

    "ev_ingest_lag" ->
      """WITH t AS (SELECT event_type, max(epoch_us(ts)) AS max_us,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1),
        |g AS (SELECT max(epoch_us(ts)) AS global_us FROM events)
        |SELECT event_type, n,
        |  ((global_us - max_us) // 60000000)::BIGINT AS lag_minutes
        |FROM t CROSS JOIN g""".stripMargin,

    "ev_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t
        |  FROM events),
        |sz AS (SELECT t, count(*)::BIGINT AS n FROM ut GROUP BY 1),
        |p AS (SELECT a.t AS ta, b.t AS tb, count(*)::BIGINT AS n_both
        |  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t GROUP BY 1, 2)
        |SELECT ta, tb, n_both,
        |  round(n_both::DOUBLE / (sa.n + sb.n - n_both)::DOUBLE, 6) AS jaccard
        |FROM p JOIN sz sa ON sa.t = p.ta JOIN sz sb ON sb.t = p.tb"""
        .stripMargin,

    "ev_benford" ->
      """WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS vm
        |  FROM events),
        |d AS (SELECT substr(vm::VARCHAR, 1, 1)::INT AS digit FROM v
        |  WHERE vm > 0),
        |o AS (SELECT digit, count(*)::BIGINT AS n_obs FROM d GROUP BY 1),
        |t AS (SELECT sum(n_obs)::BIGINT AS n FROM o),
        |e AS (SELECT * FROM (VALUES
        |  (1, 0.3010299956639812), (2, 0.17609125905568124),
        |  (3, 0.12493873660829992), (4, 0.09691001300805642),
        |  (5, 0.07918124604762482), (6, 0.06694678963061322),
        |  (7, 0.05799194697768673), (8, 0.05115252244738129),
        |  (9, 0.04575749056067514)) AS e(digit, p))
        |SELECT o.digit, o.n_obs,
        |  round(t.n::DOUBLE * e.p, 6) AS n_expected,
        |  round((o.n_obs::DOUBLE - t.n::DOUBLE * e.p)
        |    * (o.n_obs::DOUBLE - t.n::DOUBLE * e.p)
        |    / (t.n::DOUBLE * e.p), 6) AS chi2_part
        |FROM o JOIN e ON e.digit = o.digit CROSS JOIN t""".stripMargin,

    // list_reduce folds left in list order — the same integer recurrence
    "ev_ewma" ->
      """WITH h AS (SELECT event_type,
        |    (epoch_us(ts) // 3600000000)::BIGINT AS hr, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*)::BIGINT AS n_hours,
        |    list(y ORDER BY hr) AS ys
        |  FROM h GROUP BY 1),
        |f AS (SELECT event_type, n_hours,
        |    list_reduce(list_prepend([0::BIGINT, 0::BIGINT],
        |      list_transform(ys, y -> [y, 0::BIGINT])),
        |      (acc, x) -> [
        |        (20 * x[1] * 1000000 + 80 * acc[1]) // 100,
        |        greatest((20 * x[1] * 1000000 + 80 * acc[1]) // 100, acc[2])
        |      ]) AS st
        |  FROM s)
        |SELECT event_type, n_hours, st[1] AS ewma_micro, st[2] AS peak_micro
        |FROM f""".stripMargin,

    "ev_cuped" ->
      """WITH e AS (SELECT user_id,
        |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
        |u AS (SELECT user_id,
        |    sum(CASE WHEN day < 19737 THEN vm ELSE 0 END)::BIGINT AS x,
        |    sum(CASE WHEN day >= 19737 THEN vm ELSE 0 END)::BIGINT AS y,
        |    user_id % 2 AS arm
        |  FROM e GROUP BY user_id),
        |s AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy,
        |    sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN arm = 0 THEN x ELSE 0 END)::BIGINT AS sx0,
        |    sum(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS sy0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN arm = 1 THEN x ELSE 0 END)::BIGINT AS sx1,
        |    sum(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS sy1
        |  FROM u),
        |d AS (SELECT *, n::DOUBLE AS nd,
        |    (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |      / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) AS theta,
        |    sx::DOUBLE / n::DOUBLE AS xbar
        |  FROM s)
        |SELECT n0, n1, round(theta, 6) AS theta,
        |  round(((sy0::DOUBLE / n0::DOUBLE)
        |    - theta * ((sx0::DOUBLE / n0::DOUBLE) - xbar)) / 1000.0, 6)
        |    AS adj_mean0,
        |  round(((sy1::DOUBLE / n1::DOUBLE)
        |    - theta * ((sx1::DOUBLE / n1::DOUBLE) - xbar)) / 1000.0, 6)
        |    AS adj_mean1,
        |  round((((sy1::DOUBLE / n1::DOUBLE)
        |      - theta * ((sx1::DOUBLE / n1::DOUBLE) - xbar))
        |    - ((sy0::DOUBLE / n0::DOUBLE)
        |      - theta * ((sx0::DOUBLE / n0::DOUBLE) - xbar))) / 1000.0, 6)
        |    AS adj_diff
        |FROM d""".stripMargin,

    "ev_entropy_rate" ->
      """WITH s AS (SELECT user_id,
        |    list(event_type ORDER BY (epoch_us(ts) // 1000), event_id) AS seq
        |  FROM events GROUP BY user_id),
        |p AS (SELECT unnest(list_transform(
        |    generate_series(1, len(seq) - 1),
        |    i -> {f: seq[i], t: seq[i + 1]})) AS pr
        |  FROM s WHERE len(seq) > 1),
        |c AS (SELECT pr.f AS f, pr.t AS t, count(*)::BIGINT AS n
        |  FROM p GROUP BY 1, 2),
        |ns AS (SELECT f, sum(n)::BIGINT AS ns FROM c GROUP BY 1),
        |tot AS (SELECT sum(n)::BIGINT AS total FROM c),
        |terms AS (SELECT floor(
        |    (c.n::DOUBLE / ns.ns::DOUBLE)
        |      * ln(ns.ns::DOUBLE / c.n::DOUBLE)
        |      * (ns.ns::DOUBLE / tot.total::DOUBLE) * 1000000000.0)::BIGINT
        |    AS term
        |  FROM c JOIN ns USING (f) CROSS JOIN tot)
        |SELECT round(sum(term)::DOUBLE / 1000000000.0, 6)
        |  AS entropy_rate_nats
        |FROM terms""".stripMargin,

    "ev_item_trend" ->
      """WITH h AS (SELECT json_extract_string(props, '$.k')::INT AS item,
        |    (epoch_us(ts) // 3600000000)::BIGINT AS hr, count(*)::BIGINT AS y
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
        |  GROUP BY 1, 2),
        |m AS (SELECT item, min(hr) AS mn FROM h GROUP BY 1),
        |s AS (SELECT h.item, count(*)::BIGINT AS n,
        |    sum(hr - mn)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum((hr - mn) * (hr - mn))::BIGINT AS sxx,
        |    sum((hr - mn) * y)::BIGINT AS sxy
        |  FROM h JOIN m USING (item) GROUP BY 1)
        |SELECT item, n,
        |  (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE AS slope,
        |  (sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
        |      / (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE) / n::DOUBLE
        |    AS intercept
        |FROM s""".stripMargin,

    // identical to ev_asof_join's oracle — the operator must reproduce
    // the composed form bit-for-bit
    "ev_asof_native" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT l.event_id AS lid, r.event_id AS rid, r.value AS rv,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.ts DESC, r.event_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |)
        |SELECT l.event_id AS left_id, l.user_id AS k, l.ts,
        |  j.rid AS matched_id, j.rv AS matched_value
        |FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.lid = l.event_id""".stripMargin,

    "ev_asof_forward" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT l.event_id AS lid, r.event_id AS rid, r.value AS rv,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.ts ASC, r.event_id ASC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.ts >= l.ts
        |)
        |SELECT l.event_id AS left_id, l.user_id AS k, l.ts,
        |  j.rid AS matched_id, j.rv AS matched_value
        |FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.lid = l.event_id""".stripMargin,

    "ev_asof_nearest" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT l.event_id AS lid, r.event_id AS rid, r.value AS rv,
        |    row_number() OVER (PARTITION BY l.event_id ORDER BY
        |      abs(epoch_us(r.ts) - epoch_us(l.ts)) ASC,
        |      CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END ASC,
        |      CASE WHEN r.ts <= l.ts THEN -r.event_id ELSE r.event_id END ASC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id
        |)
        |SELECT l.event_id AS left_id, l.user_id AS k, l.ts,
        |  j.rid AS matched_id, j.rv AS matched_value
        |FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.lid = l.event_id""".stripMargin,

    "ev_asof_tolerance" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT l.event_id AS lid, r.event_id AS rid, r.value AS rv,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.ts DESC, r.event_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |    AND epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
        |)
        |SELECT l.event_id AS left_id, l.user_id AS k, l.ts,
        |  j.rid AS matched_id, j.rv AS matched_value
        |FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.lid = l.event_id""".stripMargin,

    "ev_item_session_cooc" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |    json_extract_string(props, '$.k')::INT AS item
        |  FROM events),
        |s AS (
        |  SELECT *, CASE
        |    WHEN lag(ts_ms) OVER w IS NULL THEN 1
        |    WHEN ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1
        |    ELSE 0 END AS is_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |),
        |sid AS (
        |  SELECT *, sum(is_start) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM s),
        |si AS (SELECT DISTINCT user_id, session_id, item FROM sid
        |  WHERE item IS NOT NULL)
        |SELECT a.item AS i, b.item AS j, count(*)::BIGINT AS n_co
        |FROM si a JOIN si b ON a.user_id = b.user_id
        |  AND a.session_id = b.session_id AND a.item < b.item
        |GROUP BY 1, 2""".stripMargin,

    "ev_rfm" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS vmi
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT user_id, max(us) AS last_us, count(*) AS f,
        |  sum(vmi) AS m FROM p GROUP BY 1),
        |ref AS (SELECT max(last_us) AS ref_us, count(*) AS n FROM u),
        |x AS (SELECT u.*, (ref.ref_us - u.last_us) // 86400000000 AS r_days,
        |  ref.n FROM u, ref),
        |rr AS (SELECT *,
        |  row_number() OVER (ORDER BY r_days ASC, user_id ASC) - 1 AS rk_r,
        |  row_number() OVER (ORDER BY f DESC, user_id ASC) - 1 AS rk_f,
        |  row_number() OVER (ORDER BY m DESC, user_id ASC) - 1 AS rk_m
        |  FROM x)
        |SELECT 1 + (5*rk_r)//n AS r_q, 1 + (5*rk_f)//n AS f_q,
        |  1 + (5*rk_m)//n AS m_q, count(*)::BIGINT AS n_users
        |FROM rr GROUP BY 1, 2, 3""".stripMargin,

    // the same (stage, last-ts) automaton as a string-state list_reduce
    // over the (ts, event_id)-ordered per-user sequence; timestamps fold
    // as exact integer micros
    "ev_funnel_windowed" ->
      """WITH s AS (
        |  SELECT user_id,
        |    list(event_type || '|' || epoch_us(ts)::VARCHAR
        |         ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id
        |)
        |SELECT user_id, CAST(split_part(list_reduce(list_prepend('0|0', seq),
        |  (acc, x) ->
        |  CASE WHEN split_part(acc,'|',1) = '0' AND split_part(x,'|',1) = 'signup'
        |         THEN '1|' || split_part(x,'|',2)
        |       WHEN split_part(acc,'|',1) = '1' AND split_part(x,'|',1) = 'view'
        |         AND split_part(x,'|',2)::BIGINT - split_part(acc,'|',2)::BIGINT <= 3600000000
        |         THEN '2|' || split_part(x,'|',2)
        |       WHEN split_part(acc,'|',1) = '2' AND split_part(x,'|',1) = 'purchase'
        |         AND split_part(x,'|',2)::BIGINT - split_part(acc,'|',2)::BIGINT <= 3600000000
        |         THEN '3|' || split_part(x,'|',2)
        |       ELSE acc END), '|', 1) AS INTEGER) AS stage
        |FROM s""".stripMargin,

    "ev_sessions_native" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms FROM events
        |),
        |s AS (
        |  SELECT *, CASE
        |    WHEN lag(ts_ms) OVER w IS NULL THEN 1
        |    WHEN ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1
        |    ELSE 0 END AS is_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |),
        |sid AS (
        |  SELECT *, sum(is_start) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM s)
        |SELECT user_id, min(ts_ms)::BIGINT AS start_ms,
        |  max(ts_ms)::BIGINT AS end_ms, count(*)::BIGINT AS n_events,
        |  CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0 AS value_sum
        |FROM sid GROUP BY user_id, session_id""".stripMargin
  )
}
