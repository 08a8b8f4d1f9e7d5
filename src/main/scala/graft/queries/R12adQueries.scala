package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.LayoutOps

/** Round-12ad queries: in-flight observed metrics, lake snapshot diff,
  * and a CSV source round-trip.
  */
object R12adQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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
      val p = R9Queries.runTmp + "/csv_docs_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      Tables.docs(s, dir).select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").option("header", "true").csv(p)
      s.read.option("header", "true")
        .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
        .csv(p)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    })
  )

  def oracles: Map[String, String] = Map(

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
        |FROM documents GROUP BY lang""".stripMargin
  )
}
