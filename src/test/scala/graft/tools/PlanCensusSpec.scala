package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}
import graft.queries.Layout

/** The registry-wide plan gate `Probe plans` prints, held as a test: every
  * registered query's plan builds at sf0.001 and none runs a window over a
  * single-partition exchange. */
class PlanCensusSpec extends AnyFunSuite {
  private val sf = s"${Probe.TestData}/sf0.001"
  // an own SQL conf over the shared context: the test data's nanosecond
  // timestamps read as longs, as under Verify and Bench
  private lazy val spark = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }

  test("every registered plan builds; no window over a single partition") {
    val readers = Set.newBuilder[String]
    Layout.drainReads()
    val audit = Plans.audit(spark, sf, Probe.allNames,
      (n, _) => if (Layout.drainReads().nonEmpty) readers += n)
    val errors = audit.collect { case (n, Left(e)) => s"$n: $e" }
    val flagged = audit.collect { case (n, Right(c)) if c.singlePartitionWindow => n }
    assert(audit.size == SparkEntry.queries.size)
    assert(errors.isEmpty, errors.mkString("\n"))
    assert(flagged.isEmpty, s"single-partition windows: $flagged")
    // builders that read a landed layout only in an eager job are
    // layout readers too
    val eagerReaders = Set("dd_clusters", "dd_fuzzy_keep", "graph_components",
      "graph_kcore", "ml_auc", "ml_pr_curve", "p3_cluster_split")
    assert(eagerReaders.subsetOf(readers.result()),
      s"not flagged: ${eagerReaders -- readers.result()}")
  }

  test("the flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
