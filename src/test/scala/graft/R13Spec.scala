package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.TpchQueries

/** Planted-fixture checks for the round-13 TPC-H tier's nontrivial
  * rewrites: q21's exists/not-exists pair collapsed into per-order
  * supplier censuses, and q2's correlated-min join keeping ties.
  * The remaining q4–q22 queries are plain relational compositions whose
  * check is the DuckDB oracle. */
class R13Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s + " 00:00:00")

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("r13fix").toString
    Seq((4, "NATION_4", 3), (0, "NATION_0", 0), (13, "NATION_13", 3))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$d/nation.parquet")
    Seq((3, "EUROPE"), (0, "AFRICA"))
      .toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$d/region.parquet")
    // s1/s2 in NATION_4 (EUROPE), s3 in NATION_0 (AFRICA), s4 in
    // NATION_13 (EUROPE).  s1 and s2 tie on acctbal; s3 is cheaper but
    // outside the region.
    Seq((1L, "S1", 4, 5.0), (2L, "S2", 4, 5.0), (3L, "S3", 0, 1.0),
        (4L, "S4", 13, 7.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$d/supplier.parquet")
    // q21 orders: o1/o2/o4 finalized, o3 open (excluded)
    Seq((1L, 9L, "F", 10.0, ts("1997-01-01"), "2-HIGH"),
        (2L, 9L, "F", 10.0, ts("1997-01-01"), "2-HIGH"),
        (3L, 9L, "O", 10.0, ts("1997-01-01"), "2-HIGH"),
        (4L, 9L, "F", 10.0, ts("1997-01-01"), "2-HIGH"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    // part p1 qualifies (LARGE, size 15); p2 wrong type
    Seq((100L, "red widget", "Brand#1", "LARGE", 15, 10.0),
        (200L, "blue bolt", "Brand#2", "SMALL", 15, 10.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$d/part.parquet")
    val late = ts("1997-06-01")   // 151 days after the order date
    val ok = ts("1997-01-15")
    // o1: s1 late TWICE, s2 on time  -> s1 numwait += 2
    // o2: s1 late, s2 late           -> two late suppliers, nobody counted
    // o3: s1 late but order is open  -> excluded
    // o4: s1 late, sole supplier     -> no other supplier, excluded
    // every line also links part 100 to its supplier for q2
    Seq((1L, 100L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", late),
        (1L, 100L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", late),
        (1L, 100L, 2L, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", ok),
        (2L, 100L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", late),
        (2L, 100L, 2L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", late),
        (3L, 100L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", late),
        (4L, 100L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", late),
        // part-supplier links for q2 ride the OPEN order o3 (q21 drops it
        // at the status filter): s3 (cheap, non-EU) and s4 (EU)
        (3L, 100L, 3L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", ok),
        (3L, 100L, 4L, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", ok),
        (3L, 200L, 1L, 4, 1.0, 1.0, 0.0, 0.0, "N", "O", ok))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    d
  }

  test("q21 census rewrite: only sole-late suppliers on multi-supplier " +
      "finalized orders, one count per late line") {
    val out = TpchQueries.queries("tpch_q21")(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(out == Map("S1" -> 2L))
  }

  test("q2 correlated-min join keeps ties and respects the region filter") {
    val out = TpchQueries.queries("tpch_q2")(spark, dir)
      .select("s_name", "p_partkey")
      .as[(String, Long)].collect().toSet
    // s3's lower balance is outside EUROPE and must not win; s1 and s2
    // tie on the minimum and BOTH rows survive; p2 is filtered by type
    assert(out == Set(("S1", 100L), ("S2", 100L)))
  }
}
