package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** The query registry and its flagship entry — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full sampling pipeline: block shuffle → fetch windows → within-fetch
    * permutation → batch slicing. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.queries("pipeline_block")(spark, "/root/testdata/sf0.001")

  /** Every query set, each name defined in exactly one of them. */
  private lazy val sets: Seq[QuerySet] = Seq(
    CoreQueries, WeightedQueries, ExtQueries, CoverageQueries,
    PipelineQueries, R9Queries, R10Queries, R10bQueries, R10cQueries,
    R11Queries, R12Queries, R12bQueries, R12cQueries, R12dQueries,
    R12eQueries, R12fQueries, R12gQueries, R12hQueries, R12iQueries,
    R12jQueries, R12kQueries, R12lQueries, R12mQueries, R12nQueries,
    R12oQueries, R12pQueries, R12qQueries, R12rQueries, R12sQueries,
    R12tQueries, R12uQueries, R12vQueries, R12wQueries, R12xQueries,
    R12yQueries, R12zQueries, R12aaQueries, R12abQueries, R12acQueries,
    R12adQueries, R12aeQueries, R12afQueries, R12agQueries, R12ahQueries,
    R12aiQueries, R12ajQueries, R12akQueries, R12alQueries, R12amQueries,
    R12aoQueries, R12apQueries, R12aqQueries, R12arQueries, R12asQueries,
    R12atQueries, R12auQueries, R12avQueries, R12axQueries, R13Queries,
    R13bQueries, R13cQueries, R13dQueries, R13eQueries, R13fQueries,
    R13gQueries, R13hQueries, R14Queries, R15Queries, R15bQueries,
    R15cQueries, R16Queries, R16bQueries, R16cQueries, R16dQueries,
    R16eQueries, R16fQueries, R16gQueries, R16hQueries, R16iQueries,
    R16jQueries, R16kQueries, R16lQueries, R16mQueries, R17Queries,
    R17bQueries, R18Queries, R19Queries, R20Queries)

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
