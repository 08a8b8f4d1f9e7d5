package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Rng
import graft.ops.MlOps

/** Round-13g queries: deterministic k-fold cross-validation of the NB
  * domain classifier — the train/eval loop a data pipeline runs to
  * qualify a quality/domain model before gating a corpus with it. */
object R13gQueries extends QuerySet {

  private val Folds = 3
  private val Seed = 11L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-fold held-out accuracy: md5-deterministic fold assignment,
    // train on k-1 folds, score the held-out fold (unseen test tokens
    // cost only their closed-form smoothing mass)
    // NOTE (r20 optimization round): a one-pass exclusion-model CV
    // (tokenize once, every fold's model = global counts minus its own)
    // was built, proven value-identical, and MEASURED SLOWER in the
    // warm sweep (5.7 s vs 3.7 s): the fold pipelines below are
    // independent subtrees Spark runs concurrently, while the one-pass
    // plan serialized them through one cache + a deep broadcast chain.
    // Kept as the per-fold composition (whose argmax is now the
    // sort-free min_by aggregate via nbScore); see OPTIMIZATION_r20.md.
    "ml_cv_accuracy" -> ((s, dir) => {
      val d = Tables.docs(s, dir).withColumn("fold",
        floor(Rng.Md5.uniform(Seed, "cv", col("doc_id")) * Folds)
          .cast("int"))
      (0 until Folds).map { f =>
        val train = d.where(col("fold") =!= f)
        val test = d.where(col("fold") === f)
        MlOps.nbClassify(train, col("text"), col("source"),
            test, col("text"), col("doc_id"))
          .join(test.select(col("doc_id"), col("source")), "doc_id")
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("pred_label") === col("source"), 1L)
              .otherwise(0L)).as("n_correct"))
          .select(lit(f).as("fold"), col("n_test"), col("n_correct"),
            round(col("n_correct").cast("double") /
              col("n_test").cast("double"), 6).as("accuracy"))
      }.reduce(_ unionByName _)
    })
  )

  /** One NB train/score block per fold, generated with the fold predicate
    * baked in; the scoring formula mirrors MlOps.nbScore (alpha = 1)
    * term-for-term. */
  private def foldSql(f: Int): String = {
    val u = Rng.Md5.uniformSql(Seed, "cv", Seq("doc_id"))
    s"""(WITH base AS (
       |  SELECT doc_id, source, text,
       |    CAST(floor(($u) * $Folds) AS INT) AS fold
       |  FROM documents),
       |train AS (SELECT * FROM base WHERE fold <> $f),
       |test AS (SELECT * FROM base WHERE fold = $f),
       |ttok AS (
       |  SELECT doc_id, source,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tok
       |  FROM train),
       |cnt AS (SELECT source AS lbl, tok, count(*)::DOUBLE AS c FROM ttok GROUP BY 1, 2),
       |ntot AS (SELECT lbl, sum(c) AS n FROM cnt GROUP BY 1),
       |v AS (SELECT count(DISTINCT tok)::DOUBLE AS vs FROM ttok),
       |pri AS (
       |  SELECT source AS lbl,
       |    ln(count(*)::DOUBLE / (SELECT count(*)::DOUBLE FROM train)) AS lp
       |  FROM train GROUP BY 1),
       |stok AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tok
       |  FROM test),
       |dt AS (SELECT doc_id, tok, count(*)::DOUBLE AS m FROM stok GROUP BY 1, 2),
       |mdoc AS (SELECT doc_id, sum(m) AS mm FROM dt GROUP BY 1),
       |adj AS (
       |  SELECT dt.doc_id, cnt.lbl, sum(dt.m * ln(cnt.c + 1.0)) AS adj
       |  FROM dt JOIN cnt ON cnt.tok = dt.tok GROUP BY 1, 2),
       |sc AS (
       |  SELECT md.doc_id, p.lbl,
       |    round(p.lp - md.mm * ln(nt.n + v.vs) + coalesce(adj.adj, 0), 6) AS score
       |  FROM mdoc md
       |  CROSS JOIN pri p
       |  JOIN ntot nt ON nt.lbl = p.lbl
       |  CROSS JOIN v
       |  LEFT JOIN adj ON adj.doc_id = md.doc_id AND adj.lbl = p.lbl),
       |r AS (
       |  SELECT doc_id, lbl, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lbl) AS rn
       |  FROM sc),
       |pred AS (SELECT doc_id, lbl FROM r WHERE rn = 1)
       |SELECT $f AS fold, count(*)::BIGINT AS n_test,
       |  sum(CASE WHEN pred.lbl = t.source THEN 1 ELSE 0 END)::BIGINT AS n_correct,
       |  round(sum(CASE WHEN pred.lbl = t.source THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*)::DOUBLE, 6) AS accuracy
       |FROM pred JOIN test t USING (doc_id))""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "ml_cv_accuracy" ->
      (0 until Folds).map(foldSql).mkString("\nUNION ALL\n")
  )
}
