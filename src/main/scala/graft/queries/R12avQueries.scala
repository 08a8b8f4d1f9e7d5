package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.DedupOps

/** Round-12av queries: near-dup cluster label purity. */
object R12avQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Do near-dup clusters stay within one language?  Cross-language
    // clusters flag template/boilerplate matches rather than true
    // duplicates — the cluster-quality gauge before a destructive dedup.
    // Rides the shared MinHash cluster machinery; the purity rollup runs
    // on the cluster table, not the corpus.
    "dd_cluster_purity" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val cl = DedupOps.dedupClusters(Tables.minhashCands(s, dir))
      val per = cl.join(d.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("keeper_id")
        .agg(count(lit(1)).as("sz"), countDistinct(col("lang")).as("n_langs"))
      per.agg(count(lit(1)).as("n_clusters"),
          sum("sz").as("n_docs_clustered"),
          sum(when(col("n_langs") === 1, 1L).otherwise(0L)).as("n_pure"))
        .select(col("n_clusters"), col("n_docs_clustered"), col("n_pure"),
          round(col("n_pure").cast("double") /
            col("n_clusters").cast("double"), 6).as("purity_rate"))
    })
  )

  def oracles: Map[String, String] = Map(

    // reuses the shared MinHash + connected-components CTE (cl ends at
    // (doc_id, root)); purity is the same rollup over it
    "dd_cluster_purity" ->
      s"""WITH RECURSIVE ${R10cQueries.MinhashClusterSql},
         |pl AS (SELECT cl.root, d.lang FROM cl
         |  JOIN documents d ON d.doc_id = cl.doc_id),
         |per AS (SELECT root, count(*)::BIGINT AS sz,
         |    count(DISTINCT lang)::BIGINT AS n_langs
         |  FROM pl GROUP BY 1)
         |SELECT count(*)::BIGINT AS n_clusters,
         |  sum(sz)::BIGINT AS n_docs_clustered,
         |  sum(CASE WHEN n_langs = 1 THEN 1 ELSE 0 END)::BIGINT AS n_pure,
         |  round(sum(CASE WHEN n_langs = 1 THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE, 6) AS purity_rate
         |FROM per""".stripMargin
  )
}
