package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Oracle-checked queries for the weighted-sampling operators (SURVEY §2.3
  * O3/O4) and weight/metric aggregations (§2.5 U9, §2.6 A1/A2).
  *
  * Cross-engine exactness strategy: every scalar pipeline mirrors the exact
  * IEEE operation ORDER between Spark and the DuckDB oracle; global
  * floating-point SUMS (order-dependent) are avoided by using integer-valued
  * weights (exact in any order), integer prefix sums, or driver-side
  * reductions in a defined order.  Outputs with genuine float aggregates are
  * rounded to 6 decimals on both sides.
  */
object WeightedQueries extends QuerySet {
  import CoreQueries.li

  private val RankedCte =
    s"""WITH ranked AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag,
      |         row_number() OVER (ORDER BY ${CoreQueries.LiOrder.mkString(", ")}) - 1 AS row_id
      |  FROM lineitem
      |)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O3 with replacement: systematic resampling over normalized-integerized
    // weights; output cardinality (120k) exceeds input (~60k) — duplicates
    // carry a copy index.
    "o3_weighted_replace" -> ((s, dir) =>
      {
      val c = li(s, dir)
      BlockWeightedSampling(col("l_linenumber"), totalSize = 2 * c.length,
        blockSize = 8, rng = Rng.Md5)
        .plan(c, 11)
      }
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Copy).cast("long").as("copy"),
          col(SamplingStrategy.Ord).as("ord"))),

    // O3 without replacement: A-Res weighted reservoir (key = ln(u)/w, top-n)
    "o3_weighted_noreplace" -> ((s, dir) =>
      {
      val c = li(s, dir)
      BlockWeightedSampling(col("l_linenumber"), totalSize = c.length / 3,
        blockSize = 8, replace = false, rng = Rng.Md5)
        .plan(c, 11)
      }
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Ord).as("ord"))),

    // O3 without replacement in samplingSize ROUNDS (the reference's
    // sampling_size semantics): two rounds (n/3, then n/2 - n/3), unique
    // within a round, repeats across rounds carry a copy index
    "o3_weighted_rounds" -> ((s, dir) =>
      {
      val c = li(s, dir)
      BlockWeightedSampling(col("l_linenumber"), totalSize = c.length / 2,
        blockSize = 8, replace = false, samplingSize = Some(c.length / 3),
        rng = Rng.Md5)
        .plan(c, 11)
      }
        .select(col("l_orderkey"), col("l_linenumber"),
          col(SamplingStrategy.Copy).cast("long").as("copy"),
          col(SamplingStrategy.Ord).as("ord"))),

    // O4: inverse-class-frequency balanced sampling over l_returnflag
    "o4_class_balanced" -> ((s, dir) =>
      {
      val c = li(s, dir)
      ClassBalancedSampling(col("l_returnflag"), totalSize = 3 * c.length / 2,
        blockSize = 16, rng = Rng.Md5)
        .plan(c, 13)
      }
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col(SamplingStrategy.Copy).cast("long").as("copy"),
          col(SamplingStrategy.Ord).as("ord"))),

    // U9: smoothed inverse-frequency weights, normalized to sum = n
    // (reference training_experiments/utils/weights.py:97-114).  The k-term
    // normalizer is reduced in source order on the driver — deterministic.
    "u9_balanced_weights" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val counts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      val k = counts.length
      val n = counts.map(_._2).sum
      val raw = counts.map { case (src, c) =>
        (src, c, n.toDouble / (k * (c + 10)).toDouble) }
      val sum = raw.map { case (_, c, w) => c * w }.reduceLeft(_ + _)
      val norm = n.toDouble / sum
      val rows = raw.map { case (src, c, w) =>
        (src, c, BigDecimal(w * norm)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      s.createDataFrame(rows.toSeq).toDF("source", "cnt", "weight")
    }),

    // A2: per-batch Shannon entropy of c_mktsegment under streaming batching
    // (reference benchmarks/utils.py:246-259).  The per-batch float sum is
    // an ORDERED fold over segment-sorted counts (integer totals), so the
    // result is independent of partial-aggregation order — the same
    // hardening that fixed stream_sessions.
    "a2_batch_entropy" -> ((s, dir) => {
      val c = ScCollection.fromParquet(s, s"$dir/customer.parquet",
        Seq("c_custkey"), Seq("c_mktsegment"))
      val b = c.df.withColumn("batch_id", floor(col("row_id") / 100))
      val g = b.groupBy("batch_id", "c_mktsegment").agg(count(lit(1)).as("cnt"))
      g.groupBy("batch_id")
        .agg(sort_array(collect_list(struct(
          col("c_mktsegment").as("seg"), col("cnt")))).as("scnts"))
        .withColumn("tot",
          aggregate(col("scnts"), lit(0L), (a, x) => a + x("cnt")).cast("double"))
        .withColumn("ent", aggregate(col("scnts"), lit(0.0), (a, x) => {
          val p = x("cnt").cast("double") / col("tot")
          a + p * log2(p)
        }))
        .select(col("batch_id"), round(lit(0.0) - col("ent"), 6).as("entropy"))
    })
  )

  def oracles: Map[String, String] = Map(
    "o3_weighted_replace" ->
      s"""$RankedCte,
         |w AS (
         |  SELECT *, CAST(round(l_linenumber::DOUBLE *
         |    ((1000000.0 * (SELECT count(*) FROM lineitem)) /
         |     (SELECT sum(l_linenumber::DOUBLE) FROM lineitem))) AS BIGINT) AS wi
         |  FROM ranked
         |),
         |c AS (
         |  SELECT *, sum(wi) OVER (ORDER BY row_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM w
         |),
         |params AS (
         |  SELECT max(cum)::DOUBLE AS tw,
         |         (('0x' || substr(md5('offset:11'), 1, 8))::BIGINT / 4294967296.0) AS off
         |  FROM c
         |),
         |cp AS (
         |  SELECT *,
         |    CAST(ceil(cum::DOUBLE / (SELECT tw FROM params) * CAST(2 * (SELECT count(*) FROM lineitem) AS DOUBLE) - (SELECT off FROM params))
         |       - ceil((cum - wi)::DOUBLE / (SELECT tw FROM params) * CAST(2 * (SELECT count(*) FROM lineitem) AS DOUBLE) - (SELECT off FROM params)) AS INT) AS copies
         |  FROM c
         |),
         |ex AS (
         |  SELECT l_orderkey, l_linenumber, row_id,
         |         unnest(generate_series(1, copies)) AS copy
         |  FROM cp WHERE copies > 0
         |),
         |sr AS (
         |  SELECT *, row_number() OVER (ORDER BY row_id, copy) - 1 AS srank FROM ex
         |),
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'wblock', '11', (srank // 8)::VARCHAR)) AS bkey
         |  FROM sr
         |)
         |SELECT l_orderkey, l_linenumber, copy::BIGINT AS copy,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin,

    "o3_weighted_noreplace" ->
      s"""$RankedCte,
         |u AS (
         |  SELECT *, (('0x' || substr(md5(concat_ws(':', 'ares', '11', row_id::VARCHAR)), 1, 8))::BIGINT
         |             / 4294967296.0) AS uu
         |  FROM ranked
         |),
         |a AS (SELECT *, ln(uu) / (l_linenumber::DOUBLE) AS akey FROM u),
         |ar AS (
         |  SELECT *, row_number() OVER (ORDER BY akey DESC, row_id) - 1 AS arank FROM a
         |),
         |sel AS (SELECT l_orderkey, l_linenumber, row_id FROM ar WHERE arank < (SELECT count(*) // 3 FROM lineitem)),
         |sr AS (SELECT *, row_number() OVER (ORDER BY row_id) - 1 AS srank FROM sel),
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'wblock', '11', (srank // 8)::VARCHAR)) AS bkey
         |  FROM sr
         |)
         |SELECT l_orderkey, l_linenumber,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin,

    "o3_weighted_rounds" ->
      s"""$RankedCte,
         |a0 AS (
         |  SELECT *, ln((('0x' || substr(md5(concat_ws(':', 'ares', '11', row_id::VARCHAR)), 1, 8))::BIGINT
         |                / 4294967296.0)) / (l_linenumber::DOUBLE) AS akey
         |  FROM ranked
         |),
         |r0 AS (SELECT *, row_number() OVER (ORDER BY akey DESC, row_id) - 1 AS arank FROM a0),
         |s0 AS (SELECT l_orderkey, l_linenumber, row_id FROM r0
         |       WHERE arank < (SELECT count(*) // 3 FROM lineitem)),
         |a1 AS (
         |  SELECT *, ln((('0x' || substr(md5(concat_ws(':', 'ares1', '11', row_id::VARCHAR)), 1, 8))::BIGINT
         |                / 4294967296.0)) / (l_linenumber::DOUBLE) AS akey
         |  FROM ranked
         |),
         |r1 AS (SELECT *, row_number() OVER (ORDER BY akey DESC, row_id) - 1 AS arank FROM a1),
         |s1 AS (SELECT l_orderkey, l_linenumber, row_id FROM r1
         |       WHERE arank < (SELECT count(*) // 2 - count(*) // 3 FROM lineitem)),
         |al AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1),
         |g AS (SELECT l_orderkey, l_linenumber, row_id, count(*) AS c FROM al GROUP BY 1, 2, 3),
         |ex AS (SELECT l_orderkey, l_linenumber, row_id,
         |              unnest(generate_series(1, c)) AS copy
         |       FROM g),
         |sr AS (SELECT *, row_number() OVER (ORDER BY row_id, copy) - 1 AS srank FROM ex),
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'wblock', '11', (srank // 8)::VARCHAR)) AS bkey
         |  FROM sr
         |)
         |SELECT l_orderkey, l_linenumber, copy::BIGINT AS copy,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin,

    "o4_class_balanced" ->
      s"""$RankedCte,
         |cnts AS (SELECT l_returnflag AS lbl, count(*) AS cnt FROM lineitem GROUP BY 1),
         |w AS (
         |  SELECT r.*, CAST(round((1000000.0 * (SELECT count(*) FROM lineitem)) /
         |    ((SELECT count(*) FROM cnts) * c.cnt)::DOUBLE) AS BIGINT) AS wi
         |  FROM ranked r JOIN cnts c ON r.l_returnflag = c.lbl
         |),
         |c AS (
         |  SELECT *, sum(wi) OVER (ORDER BY row_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM w
         |),
         |params AS (
         |  SELECT max(cum)::DOUBLE AS tw,
         |         (('0x' || substr(md5('offset:13'), 1, 8))::BIGINT / 4294967296.0) AS off
         |  FROM c
         |),
         |cp AS (
         |  SELECT *,
         |    CAST(ceil(cum::DOUBLE / (SELECT tw FROM params) * CAST(3 * (SELECT count(*) FROM lineitem) // 2 AS DOUBLE) - (SELECT off FROM params))
         |       - ceil((cum - wi)::DOUBLE / (SELECT tw FROM params) * CAST(3 * (SELECT count(*) FROM lineitem) // 2 AS DOUBLE) - (SELECT off FROM params)) AS INT) AS copies
         |  FROM c
         |),
         |ex AS (
         |  SELECT l_orderkey, l_linenumber, l_returnflag, row_id,
         |         unnest(generate_series(1, copies)) AS copy
         |  FROM cp WHERE copies > 0
         |),
         |sr AS (
         |  SELECT *, row_number() OVER (ORDER BY row_id, copy) - 1 AS srank FROM ex
         |),
         |k AS (
         |  SELECT *, md5(concat_ws(':', 'wblock', '13', (srank // 16)::VARCHAR)) AS bkey
         |  FROM sr
         |)
         |SELECT l_orderkey, l_linenumber, l_returnflag, copy::BIGINT AS copy,
         |       row_number() OVER (ORDER BY bkey, srank) - 1 AS ord
         |FROM k""".stripMargin,

    "u9_balanced_weights" ->
      """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
        |p AS (SELECT (SELECT count(*) FROM c) AS k, (SELECT count(*) FROM documents) AS n),
        |w AS (
        |  SELECT source, cnt,
        |         (SELECT n FROM p)::DOUBLE / ((SELECT k FROM p) * (cnt + 10))::DOUBLE AS wr
        |  FROM c
        |),
        |s AS (SELECT list_reduce(list(cnt * wr ORDER BY source), (a, b) -> a + b) AS tot FROM w)
        |SELECT source, cnt,
        |       round(wr * ((SELECT n FROM p)::DOUBLE / (SELECT tot FROM s)), 6) AS weight
        |FROM w""".stripMargin,

    "a2_batch_entropy" ->
      """WITH r AS (
        |  SELECT c_mktsegment, row_number() OVER (ORDER BY c_custkey) - 1 AS row_id
        |  FROM customer
        |),
        |b AS (SELECT row_id // 100 AS batch_id, c_mktsegment FROM r),
        |g AS (SELECT batch_id, c_mktsegment, count(*) AS cnt FROM b GROUP BY 1, 2),
        |l AS (
        |  SELECT batch_id, list(cnt ORDER BY c_mktsegment) AS cnts,
        |         sum(cnt) AS tot
        |  FROM g GROUP BY batch_id
        |),
        |e AS (
        |  SELECT batch_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(cnts,
        |      c -> (c::DOUBLE / tot::DOUBLE) * log2(c::DOUBLE / tot::DOUBLE))),
        |      (a, x) -> a + x) AS ent
        |  FROM l
        |)
        |SELECT batch_id, round(0.0 - ent, 6) AS entropy FROM e""".stripMargin
  )
}
