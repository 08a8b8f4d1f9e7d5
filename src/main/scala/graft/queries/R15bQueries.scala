package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.LayoutOps

/** Round-15b: lake maintenance surface, oracle-gated.
  *
  * `o5_compact_travel` — a streaming-shaped lake (three micro-batch
  * appends) is compacted (OPTIMIZE); the pre- and post-compaction
  * snapshots must BOTH equal the plain relational answer.
  *
  * `o5_stats_skip` — a day-range read through manifest-stats directory
  * pruning; the query itself REQUIRES that pruning skipped the
  * out-of-range commits (the scale property is part of the gate), and
  * the oracle checks the surviving rows against DuckDB.
  *
  * `o5_pushdown_skip` — the same range read with NO hint: a plain
  * `.where` on `readVersionIndexed`, pruned by the PLANNER through
  * [[graft.sources.LakeFileIndex]] (census-asserted: 2 of 3 commits
  * skipped and never listed).
  *
  * `o5_version_delta` — the structural append-delta (CDC read) between
  * two snapshots, O(delta) from the manifests alone.
  */
object R15bQueries extends QuerySet {

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

  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(

    // Micro-batch-fragmented lake, then OPTIMIZE: snapshot v2 (three
    // directories) and v3 (compacted, one directory) must aggregate
    // identically — compaction moves bytes, never rows.
    "o5_compact_travel" -> ((s, dir) => {
      val p = R9Queries.runTmp + "/ct_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      buildSliced(s, dir, p)
      if (LayoutOps.latestVersion(s, p) == 2)
        LayoutOps.compactSnapshot(s, p, targetFiles = 2,
          statsCols = Seq("day"))
      def agg(v: Int, tag: String): DataFrame =
        LayoutOps.readVersion(s, p, v)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
          .withColumn("phase", lit(tag))
      agg(2, "pre").unionByName(agg(3, "post"))
    }),

    // Day-ranged read through manifest-stats pruning: of the three
    // day-sliced commits only the middle one intersects 19735..19739,
    // so exactly two directories MUST be skipped without being listed —
    // enforced here, value-checked by the oracle.
    "o5_stats_skip" -> ((s, dir) => {
      val p = R9Queries.runTmp + "/ss_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
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
      val p = R9Queries.runTmp + "/ss_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
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
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val src = R9Queries.runTmp + "/tm_src_" + tag
      val dst = R9Queries.runTmp + "/tm_dst_" + tag
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
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val src = R9Queries.runTmp + "/st_src_" + tag
      val out = R9Queries.runTmp + "/st_out_" + tag
      val ckp = R9Queries.runTmp + "/st_ckp_" + tag
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
      val p = R9Queries.runTmp + "/zt_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      buildSliced(s, dir, p)
      if (LayoutOps.latestVersion(s, p) == 2)
        LayoutOps.compactZOrdered(s, p,
          greatest(col("day") - 19700L, lit(0L)),
          pmod(col("event_id"), lit(64)), bits = 8, targetFiles = 2,
          statsCols = Seq("day"))
      def agg(v: Int, tag: String): DataFrame =
        LayoutOps.readVersion(s, p, v)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
          .withColumn("phase", lit(tag))
      agg(2, "pre").unionByName(agg(3, "post"))
    }),

    // Retention DELETE with directory-granular rewrites: removing a day
    // range from the day-sliced lake must rewrite ONLY the one commit
    // the range can touch (the other two carried by name, files
    // untouched — asserted structurally) and the surviving snapshot
    // must equal the relational complement.
    "o5_delete_where" -> ((s, dir) => {
      val p = R9Queries.runTmp + "/dw_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
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
      val p = R9Queries.runTmp + "/mi_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
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

    // The 100 TB ingestion loop end-to-end: documents arrive as lake
    // commits; each lakeTail catch-up dedups ONLY the delta against the
    // persisted MinHash index (old corpus never re-hashed) and appends
    // the delta's bands.  The union of the staged candidate sets must
    // equal the FULL-corpus LSH pairs (every pair is found exactly when
    // its later shard arrives) — checked against the all-pairs oracle.
    "pipe_lake_dedup" -> ((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val lake = R9Queries.runTmp + "/pld_lake_" + tag
      val idx = R9Queries.runTmp + "/pld_idx_" + tag
      val ckp = R9Queries.runTmp + "/pld_ckp_" + tag
      val cand = R9Queries.runTmp + "/pld_cand_" + tag
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

    // Incremental consumer catch-up: the structural append-delta between
    // snapshots v0 and v2 must be exactly the two later day-slices —
    // read in O(delta) from the manifests, never an anti-join — and the
    // values must match the relational day-range oracle.
    "o5_version_delta" -> ((s, dir) => {
      val p = R9Queries.runTmp + "/ss_events_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      buildSliced(s, dir, p)
      LayoutOps.readVersionDelta(s, p, 0, 2)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmic").as("vmic"))
    })
  )

  def oracles: Map[String, String] = Map(

    "o5_compact_travel" ->
      """WITH e AS (SELECT event_type,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events),
        |a AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(vmic)::BIGINT AS vmic
        |  FROM e GROUP BY event_type)
        |SELECT event_type, n, vmic, 'pre' AS phase FROM a
        |UNION ALL
        |SELECT event_type, n, vmic, 'post' AS phase FROM a""".stripMargin,

    "o5_stats_skip" ->
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic
        |FROM e WHERE day BETWEEN 19735 AND 19739
        |GROUP BY event_type""".stripMargin,

    "o5_pushdown_skip" ->
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic
        |FROM e WHERE day BETWEEN 19735 AND 19739
        |GROUP BY event_type""".stripMargin,

    "o5_tail_mirror" ->
      """WITH e AS (SELECT event_type,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic
        |FROM e GROUP BY event_type""".stripMargin,

    "o5_stream_tail" ->
      """WITH e AS (SELECT event_type,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic
        |FROM e GROUP BY event_type""".stripMargin,

    "o5_zorder_travel" ->
      """WITH e AS (SELECT event_type,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events),
        |a AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(vmic)::BIGINT AS vmic
        |  FROM e GROUP BY event_type)
        |SELECT event_type, n, vmic, 'pre' AS phase FROM a
        |UNION ALL
        |SELECT event_type, n, vmic, 'post' AS phase FROM a""".stripMargin,

    "o5_merge_into" ->
      """WITH e AS (SELECT event_id, event_type,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n,
        |       sum(CASE WHEN event_id BETWEEN 100 AND 199
        |                THEN 2 * vmic ELSE vmic END)::BIGINT AS vmic
        |FROM e GROUP BY event_type""".stripMargin,

    "o5_delete_where" ->
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic
        |FROM e WHERE day < 19735 OR day > 19739
        |GROUP BY event_type""".stripMargin,

    // the full-corpus LSH pairs (same band construction as the
    // dd_minhash_* oracles) — the staged incremental union must equal it
    "pipe_lake_dedup" ->
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
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |FROM bk x JOIN bk y
        |  ON x.band = y.band AND x.band_key = y.band_key
        |  AND x.doc_id < y.doc_id""".stripMargin,

    "o5_version_delta" ->
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    floor(value * 1000000.0)::BIGINT AS vmic
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n, sum(vmic)::BIGINT AS vmic
        |FROM e WHERE day >= 19732
        |GROUP BY event_type""".stripMargin
  )
}
