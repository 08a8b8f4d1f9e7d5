package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Round-12n queries: the broadcast interval-lookup join, the
  * corrupt-file-tolerant read, and the MAD robust outlier gate.
  */
object R12nQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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

    // Corrupt-file tolerance: a junk file dropped into the table directory
    // is skipped under ignoreCorruptFiles — the census still matches the
    // clean corpus (data-lake resilience: one bad shard must not kill a
    // 100 TB scan)
    "s2_corrupt_tolerant" -> ((s, dir) => {
      val p = R9Queries.runTmp + "/corrupt_docs_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val d = Tables.docs(s, dir)
      d.write.mode("overwrite").parquet(p)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$p/part-junk.parquet"),
        "this is not a parquet file".getBytes("UTF-8"))
      s.read.option("ignoreCorruptFiles", "true").parquet(p)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    }),

    // MAD gate on doc lengths: |v - median| > 3 * MAD — the 50%-breakdown
    // robust filter; both medians rank-exact via the Ranker
    "text_mad_gate" -> ((s, dir) =>
      TextOps.madGate(Tables.docs(s, dir), col("n_chars"), col("doc_id")))
  )

  def oracles: Map[String, String] = Map(

    "ev_interval_lookup" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('low', 0.0, 10.0), ('mid', 10.0, 100.0), ('high', 100.0, 1e9))
        |SELECT e.event_type, b.band, count(*)::BIGINT AS n
        |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY 1, 2""".stripMargin,

    "s2_corrupt_tolerant" ->
      """SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY lang""".stripMargin,

    "text_mad_gate" ->
      """WITH m AS (SELECT doc_id, n_chars::BIGINT AS v FROM documents),
        |r1 AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) - 1 AS r,
        |    count(*) OVER () AS n FROM m),
        |med AS (SELECT v AS med FROM r1 WHERE r = (n - 1) // 2),
        |d AS (SELECT doc_id, abs(v - med) AS dev FROM m CROSS JOIN med),
        |r2 AS (SELECT dev, row_number() OVER (ORDER BY dev, doc_id) - 1 AS r,
        |    count(*) OVER () AS n FROM d),
        |mad AS (SELECT dev AS mad FROM r2 WHERE r = (n - 1) // 2)
        |SELECT m.doc_id, m.v, (abs(m.v - med) > 3 * mad) AS is_outlier
        |FROM m CROSS JOIN med CROSS JOIN mad""".stripMargin
  )
}
