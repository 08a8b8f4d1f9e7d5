package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, TextOps}

/** Round-12t queries: the dedup-ladder reduction funnel — survivor counts
  * at every curation tier in one long-form table.
  */
object R12tQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The ladder in one table: corpus → quality gate → exact → normalized
    // exact → MinHash fuzzy, each tier's survivor count — the reduction
    // report a curation run publishes.  Each tier is the already-oracled
    // operator with its standard parameters.
    "dd_funnel_report" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      def one(stage: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(stage).as("stage"), col("n_docs"))
      val gate = TextOps.filterPipeline(d, col("text"), col("doc_id"),
        minTokens = 20L, maxTokens = 1000L, minQuality = 0.5,
        langs = Seq("en", "de", "es", "fr"))
      val normKept = DedupOps.exactDedup(
        d.select(col("doc_id"),
          TextOps.normalizeText(col("text")).as("nt")),
        col("nt"), col("doc_id"))
      one("corpus", d)
        .unionByName(one("gate", gate))
        .unionByName(one("exact",
          DedupOps.exactDedup(d, col("text"), col("doc_id"))))
        .unionByName(one("norm_exact", normKept))
        .unionByName(one("fuzzy",
          DedupOps.removeClusterLosers(d, col("doc_id"),
            DedupOps.jaccardFromStats(Tables.minhashCands(s, dir)
              .join(Tables.ngramPairStats(s, dir), Seq("doc_a", "doc_b")),
              minJaccard = 0.5))))
    })
  )

  def oracles: Map[String, String] = Map(

    // each tier's count wraps that tier's own oracle as a subquery — the
    // funnel is definitionally consistent with the per-tier queries
    "dd_funnel_report" -> {
      val gate = PipelineQueries.oracles("text_filter_pipeline")
      val exact = CoverageQueries.oracles("dd_exact_keep")
      val norm = R12oQueries.oracles("dd_norm_exact")
      val fuzzy = R9Queries.oracles("dd_fuzzy_keep")
      s"""SELECT 'corpus' AS stage, count(*)::BIGINT AS n_docs FROM documents
         |UNION ALL SELECT 'gate', count(*)::BIGINT FROM ($gate)
         |UNION ALL SELECT 'exact', count(*)::BIGINT FROM ($exact)
         |UNION ALL SELECT 'norm_exact', count(*)::BIGINT FROM ($norm)
         |UNION ALL SELECT 'fuzzy', count(*)::BIGINT FROM ($fuzzy)""".stripMargin
    }
  )
}
