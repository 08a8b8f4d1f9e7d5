package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One group of registered queries: each name maps to its Spark plan over a
  * data directory and to the ANSI SQL a DuckDB oracle runs over the same
  * parquet tables.  [[graft.SparkEntry]] folds every set into the registry. */
trait QuerySet {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

object QuerySet {
  /** The union of `parts`; a name defined in two of them fails the build of
    * the registry instead of the later definition silently winning. */
  def merge[V](what: String, parts: Seq[Map[String, V]]): Map[String, V] = {
    val dups = parts.flatMap(_.keys).groupBy(identity).collect {
      case (k, ks) if ks.size > 1 => k }
    require(dups.isEmpty, s"$what defined in two query sets: ${dups.toSeq.sorted.mkString(", ")}")
    parts.reduce(_ ++ _)
  }
}
