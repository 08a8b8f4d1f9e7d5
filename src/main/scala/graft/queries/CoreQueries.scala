package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Oracle-checked queries over the core sampling/batching operators
  * (SURVEY.md §2.1-§2.4).  Every query uses [[Rng.Md5]] so the epoch order
  * is reproducible in ANSI SQL: all randomness is
  * `md5(concat_ws(':', tag, seed, cols…))`, identical bytes in Spark and
  * DuckDB.  Column names are aliased identically on both sides (the driver
  * compare sorts columns by name before hashing).
  */
object CoreQueries extends QuerySet {

  /** lineitem as an indexable collection: contiguous row_id ranked by a
    * TOTAL order — (l_orderkey, l_linenumber) alone is NOT unique in the
    * test data (~20% duplicate pairs), so extra columns break ties; rows
    * identical in every sort column are interchangeable, which keeps the
    * rank deterministic as a multiset across engines. */
  val LiOrder = Seq("l_orderkey", "l_linenumber", "l_extendedprice",
    "l_quantity", "l_discount", "l_tax")

  /** Session-scoped collection handle: ranked once, persisted, reused by
    * every query — the reference's own benchmark methodology (open the
    * collection once, iterate epochs over the same handle; its timed window
    * also excludes dataset open, benchmarks/utils.py:90-92). */
  private val liCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), ScCollection]()

  def li(spark: SparkSession, dir: String): ScCollection =
    liCache.computeIfAbsent((spark, dir), _ =>
      // project to the columns the queries touch (P1, the reference's own
      // obs-pruning): the cached frame is half as wide, and the pruning
      // reaches the parquet scan (ReadSchema)
      ScCollection.fromParquetCached(spark, s"$dir/lineitem.parquet", LiOrder,
        columns = Seq("l_returnflag")))

  /** Shared oracle CTE: the same contiguous rank in DuckDB. */
  private[queries] val RankedCte =
    s"""WITH ranked AS (
      |  SELECT l_orderkey, l_linenumber,
      |         row_number() OVER (ORDER BY ${LiOrder.mkString(", ")}) - 1 AS row_id
      |  FROM lineitem
      |)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1: positional batched scan — rank + row-range filter
    "s1_scan" -> ((s, dir) =>
      li(s, dir).df
        .select(col("row_id"), col("l_orderkey"), col("l_linenumber"))
        .where(col("row_id").between(100, 199))),

    // P5: pilot-mode limit (first n by row_id)
    "p5_limit" -> ((s, dir) =>
      li(s, dir).limit(50).df
        .select(col("row_id"), col("l_orderkey"), col("l_linenumber"))),

    // O1 + P3: streaming order over a subset — subset rows re-ranked contiguously
    "o1_streaming" -> ((s, dir) => {
      val sub = li(s, dir).where(col("l_linenumber") <= 3)
      Streaming(rng = Rng.Md5).plan(sub, 5)
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord"))
    }),

    // O2: block shuffle — block order md5-permuted, intra-block order kept
    "o2_block_shuffle" -> ((s, dir) =>
      BlockShuffling(blockSize = 8, rng = Rng.Md5).plan(li(s, dir), 7)
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord"))),

    // O2 dropLast: n % blockSize uniformly-random rows removed first
    "o2_block_droplast" -> ((s, dir) =>
      BlockShuffling(blockSize = 8, dropLast = true, rng = Rng.Md5)
        .plan(li(s, dir), 7)
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord"))),

    // O1-shuffle + B1 + B2 + O6: fetch windows, within-window md5 permutation,
    // batch slicing
    "b2_buffer_shuffle" -> ((s, dir) => {
      val ds = ScDataset(li(s, dir), Streaming(shuffle = true, rng = Rng.Md5),
        batchSize = 16, fetchFactor = 4, seed = 42L)
      ds.planFrame(0)
        .select(col("l_orderkey"), col("l_linenumber"), col("fetch_id"),
          col("__pos").as("pos"), col("batch_id"), col("pos_in_batch"))
    }),

    // Flagship pipeline: BlockShuffling → fetch windows → within-fetch
    // permutation → batch slicing → dropLast trim (S1+O2+O5+O6+B1+B2+P6)
    "pipeline_block" -> ((s, dir) => {
      val ds = ScDataset(li(s, dir), BlockShuffling(blockSize = 32, rng = Rng.Md5),
        batchSize = 16, fetchFactor = 8, dropLast = true, seed = 42L)
      ds.planFrame(0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord"), col("fetch_id"),
          col("__pos").as("pos"), col("batch_id"), col("pos_in_batch"))
    }),

    // B3 + B4: exact per-rank batch counts under round-robin fetch
    // distribution (driver-side closed form; oracle recomputes from count(*))
    "b3_batch_counts" -> ((s, dir) => {
      val ds = ScDataset(li(s, dir), Streaming(rng = Rng.Md5),
        batchSize = 64, fetchFactor = 4)
      val rows = (0 until 3).map(r => (r.toLong, ds.batchCount(r, 3))) :+
        (-1L, ds.batchCount)
      s.createDataFrame(rows).toDF("rank", "batches")
    }),

    // A1: class/frequency count
    "a1_class_count" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy("lang").agg(count(lit(1)).as("cnt"))),

    // U8: dictionary label encoding (string -> dense id by sorted order)
    "u8_label_encode" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // the label dictionary is the distinct label set — driver-sized by
      // definition for a CLASS label; ids are assigned on the collected
      // sorted values (a partition-less window here would log WindowExec's
      // single-partition warning on every run — Spark strips constant
      // partition keys).  The collect is BOUNDED: orderBy+limit compiles to
      // TakeOrdered, so at most maxLabels+1 rows ever reach the driver, and
      // an unexpectedly high-cardinality label column fails loudly instead
      // of silently OOMing the driver (use the two-phase Ranker for id
      // assignment if the cardinality is genuinely unbounded).
      import s.implicits._
      val maxLabels = 1000000
      val collected = docs.select("lang").distinct().orderBy("lang")
        .limit(maxLabels + 1).collect()
      require(collected.length <= maxLabels,
        s"label cardinality exceeds $maxLabels — not a class label; " +
          "assign ids with a distributed rank instead")
      val dict = s.createDataset(
        collected.map(_.getString(0)).zipWithIndex.map { case (l, i) => (l, i) }
          .toSeq).toDF("lang", "label_id")
      docs.join(broadcast(dict), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("label_id").cast("long"))
    })
  )

  def oracles: Map[String, String] = Map(
    "s1_scan" ->
      s"""$RankedCte
         |SELECT row_id, l_orderkey, l_linenumber FROM ranked
         |WHERE row_id BETWEEN 100 AND 199""".stripMargin,

    "p5_limit" ->
      s"""$RankedCte
         |SELECT row_id, l_orderkey, l_linenumber FROM ranked
         |WHERE row_id < 50""".stripMargin,

    "o1_streaming" ->
      s"""$RankedCte
         |SELECT l_orderkey, l_linenumber,
         |       row_number() OVER (ORDER BY row_id) - 1 AS ord
         |FROM ranked WHERE l_linenumber <= 3""".stripMargin,

    "o2_block_shuffle" ->
      s"""$RankedCte,
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'block', '7', (row_id // 8)::VARCHAR)) AS bkey
         |  FROM ranked
         |)
         |SELECT l_orderkey, l_linenumber,
         |       row_number() OVER (ORDER BY bkey, row_id) - 1 AS ord
         |FROM k""".stripMargin,

    "o2_block_droplast" ->
      s"""$RankedCte,
         |d AS (
         |  SELECT *, md5(concat_ws(':', 'drop', '7', row_id::VARCHAR)) AS dkey
         |  FROM ranked
         |),
         |dr AS (
         |  SELECT *, row_number() OVER (ORDER BY dkey, row_id) - 1 AS drank FROM d
         |),
         |kept AS (
         |  SELECT l_orderkey, l_linenumber, row_id FROM dr
         |  WHERE drank >= (SELECT count(*) % 8 FROM lineitem)
         |),
         |r0 AS (
         |  SELECT *, row_number() OVER (ORDER BY row_id) - 1 AS r0 FROM kept
         |),
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'block', '7', (r0 // 8)::VARCHAR)) AS bkey
         |  FROM r0
         |)
         |SELECT l_orderkey, l_linenumber,
         |       row_number() OVER (ORDER BY bkey, r0) - 1 AS ord
         |FROM k""".stripMargin,

    "b2_buffer_shuffle" ->
      s"""$RankedCte,
         |f AS (SELECT *, row_id // 64 AS fetch_id FROM ranked),
         |p AS (
         |  SELECT *, fetch_id * 64 + row_number() OVER (
         |    PARTITION BY fetch_id
         |    ORDER BY md5(concat_ws(':', 'yield', '42', row_id::VARCHAR)), row_id
         |  ) - 1 AS pos
         |  FROM f
         |)
         |SELECT l_orderkey, l_linenumber, fetch_id, pos,
         |       pos // 16 AS batch_id, pos % 16 AS pos_in_batch
         |FROM p""".stripMargin,

    "pipeline_block" ->
      s"""$RankedCte,
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'block', '42', (row_id // 32)::VARCHAR)) AS bkey
         |  FROM ranked
         |),
         |o AS (
         |  SELECT l_orderkey, l_linenumber,
         |         row_number() OVER (ORDER BY bkey, row_id) - 1 AS ord
         |  FROM k
         |),
         |f AS (SELECT *, ord // 128 AS fetch_id FROM o),
         |p AS (
         |  SELECT *, fetch_id * 128 + row_number() OVER (
         |    PARTITION BY fetch_id
         |    ORDER BY md5(concat_ws(':', 'yield', '42', ord::VARCHAR)), ord
         |  ) - 1 AS pos
         |  FROM f
         |)
         |SELECT l_orderkey, l_linenumber, ord, fetch_id, pos,
         |       pos // 16 AS batch_id, pos % 16 AS pos_in_batch
         |FROM p
         |WHERE pos < (SELECT (count(*) // 16) * 16 FROM lineitem)""".stripMargin,

    "b3_batch_counts" ->
      """WITH c AS (SELECT count(*) AS m FROM lineitem),
        |f AS (
        |  SELECT unnest(generate_series(0, CAST(ceil((SELECT m FROM c) / 256.0) AS BIGINT) - 1)) AS fid
        |),
        |pb AS (
        |  SELECT fid % 3 AS rnk,
        |         CAST(ceil(LEAST(256, (SELECT m FROM c) - fid * 256) / 64.0) AS BIGINT) AS nb
        |  FROM f
        |)
        |SELECT rnk AS rank, CAST(sum(nb) AS BIGINT) AS batches FROM pb GROUP BY rnk
        |UNION ALL
        |SELECT -1 AS rank, CAST(ceil((SELECT m FROM c) / 64.0) AS BIGINT) AS batches""".stripMargin,

    "a1_class_count" ->
      "SELECT lang, count(*) AS cnt FROM documents GROUP BY lang",

    "u8_label_encode" ->
      """SELECT doc_id, lang,
        |       dense_rank() OVER (ORDER BY lang) - 1 AS label_id
        |FROM documents""".stripMargin
  )
}
