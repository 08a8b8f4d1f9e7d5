package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** The query registry and its flagship entry — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full sampling pipeline: block shuffle → fetch windows → within-fetch
    * permutation → batch slicing. */
  def entry(spark: SparkSession): DataFrame =
    SamplingQueries.queries("pipeline_block")(spark, "/root/testdata/sf0.001")

  /** Every query set, one per domain; each name is defined in exactly one
    * of them, the set its prefix belongs to (README `graft.queries`). */
  private lazy val sets: Seq[QuerySet] = Seq(
    SamplingQueries, DedupQueries, TextQueries, SimilarityQueries,
    MediaQueries, EventQueries, TpchQueries, MlQueries, GraphQueries,
    LakeQueries)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    QuerySet.merge("query", sets.map(_.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    QuerySet.merge("oracle", sets.map(_.oracles))

  /** The named entries in the given order; an unknown name throws. */
  def pick(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    names.map(n => n -> queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query: $n")))
}
