package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.MlOps

/** Round-12l queries: TPC-H q6, the cube census, the JSON source
  * round-trip, and the NB-classifier confusion report.
  */
object R12lQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q6 forecast-revenue change: pure scan + pushdown predicate,
    // all-integer money terms (discount band compared in exact milli)
    "tpch_q6" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val qc = round(col("l_quantity") * 100).cast("long")
      val pc = round(col("l_extendedprice") * 100).cast("long")
      val d3 = round(col("l_discount") * 1000).cast("long")
      li.where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(qc.as("qc"), pc.as("pc"), d3.as("d3"))
        .where(col("d3") >= 50 && col("d3") <= 70 && col("qc") < 2400)
        .agg((sum(col("pc") * col("d3")).cast("double") / 1e5).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // Full cube census: every (source, lang) subtotal combination in one
    // Expand+aggregate pass — the last §2.7 grouping-sets variant
    "a1_cube" -> ((s, dir) =>
      Tables.docs(s, dir).cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))),

    // JSON-lines source round-trip (explicit schema — no inference
    // drift); same per-source census as the parquet path
    "s3_json_roundtrip" -> ((s, dir) => {
      val p = R9Queries.runTmp + "/json_docs_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val d = Tables.docs(s, dir)
      d.write.mode("overwrite").json(p)
      s.read.schema(d.schema).json(p).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    }),

    // Classifier-evaluation report: true source × NB-predicted source
    "ml_nb_confusion" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      MlOps.nbClassify(d, col("text"), col("source"),
          d, col("text"), col("doc_id"))
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source", "pred_label").agg(count(lit(1)).as("n"))
    })
  )

  def oracles: Map[String, String] = Map(

    "tpch_q6" ->
      """WITH li AS (
        |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS qc,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |    CAST(round(l_discount * 1000) AS BIGINT) AS d3
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
        |SELECT sum(pc * d3)::DOUBLE / 1e5 AS revenue,
        |  count(*)::BIGINT AS n_lines
        |FROM li WHERE d3 >= 50 AND d3 <= 70 AND qc < 2400""".stripMargin,

    "a1_cube" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY CUBE(source, lang)""".stripMargin,

    "s3_json_roundtrip" ->
      """SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents GROUP BY source""".stripMargin,

    "ml_nb_confusion" ->
      s"""WITH pred AS (${R10bQueries.oracles("ml_nb_classify")})
         |SELECT d.source, pred.pred_label, count(*)::BIGINT AS n
         |FROM pred JOIN documents d ON d.doc_id = pred.doc_id
         |GROUP BY 1, 2""".stripMargin
  )
}
