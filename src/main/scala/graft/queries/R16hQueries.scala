package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.SketchOps

/** Round-16h: the corpus datasheet — the one-row card every dataset
  * release ships (sizes, language/source breadth, length quantiles from
  * the HDR sketch, exact-dup mass).  One plan: three tiny aggregates
  * broadcast-joined; every number integer or bucket-exact, so the card
  * replays hash-exactly. */
object R16hQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_corpus_card" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val base = d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"))
      val med = SketchOps.hdrQuantiles(d, col("n_chars"), subBits = 4,
          quantiles = Seq((1, 2)))
        .select(col("est_lb").as("p50_len_lb"), col("est_ub").as("p50_len_ub"))
      val dup = d.groupBy(md5(lower(trim(col("text")))).as("h"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") > 1)
        .agg(coalesce(count(lit(1)), lit(0L)).as("dup_groups"),
          coalesce(sum(col("n") - 1), lit(0L)).as("dup_docs"))
      base.crossJoin(broadcast(med)).crossJoin(broadcast(dup))
    })
  )

  def oracles: Map[String, String] = Map(
    "pipeline_corpus_card" ->
      """WITH h AS (
        |  SELECT (sh::BIGINT * 32 + (v >> sh)) AS bucket_id,
        |    ((v >> sh) << sh)::BIGINT AS lb,
        |    (((v >> sh) << sh) + ((1::BIGINT << sh) - 1))::BIGINT AS ub,
        |    count(*)::BIGINT AS n
        |  FROM (SELECT n_chars::BIGINT AS v,
        |      greatest(0, length(bin(n_chars::BIGINT)) - 1 - 4) AS sh
        |    FROM documents)
        |  GROUP BY 1, 2, 3),
        |c AS (SELECT lb, ub, sum(n) OVER (ORDER BY bucket_id) AS cum,
        |    bucket_id FROM h),
        |t AS (SELECT sum(n)::BIGINT AS n_total FROM h),
        |med AS (
        |  SELECT min(lb)::BIGINT AS p50_len_lb, min(ub)::BIGINT
        |    AS p50_len_ub
        |  FROM c, t WHERE cum >= (n_total + 1) // 2),
        |dup AS (
        |  SELECT coalesce(count(*), 0)::BIGINT AS dup_groups,
        |    coalesce(sum(n - 1), 0)::BIGINT AS dup_docs
        |  FROM (SELECT md5(lower(trim(text))) AS h, count(*)::BIGINT AS n
        |        FROM documents GROUP BY 1) WHERE n > 1),
        |base AS (
        |  SELECT count(*)::BIGINT AS n_docs,
        |    count(DISTINCT lang)::BIGINT AS n_langs,
        |    count(DISTINCT source)::BIGINT AS n_sources,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars
        |  FROM documents)
        |SELECT * FROM base, med, dup""".stripMargin
  )
}
