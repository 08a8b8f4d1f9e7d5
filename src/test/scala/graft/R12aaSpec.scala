package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import graft.functions.TopKAgg
import TestFiles.ts

/** Invariants for the round-12aa surface: trailing features, audit
  * manifest, and the bounded-state top-k aggregate. */
class R12aaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("trailingFeatures counts per horizon and never leaks the future") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "click"),   // -2h
      (1L, ts("2024-01-01 11:30:00"), 2L, "click"),   // -30min
      (1L, ts("2024-01-01 12:00:00"), 3L, "purchase"),
      (1L, ts("2024-01-01 12:30:00"), 4L, "click"),   // AFTER: must not count
      (2L, ts("2024-01-01 11:59:00"), 5L, "click"),   // other user
      (2L, ts("2024-01-01 12:00:00"), 6L, "purchase")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = EventOps.trailingFeatures(ev, col("user_id"), col("ts"),
        col("event_id"), col("event_type"), "purchase", "click",
        Seq(3600000L, 86400000L))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._4, r._5)).toMap
    assert(out(3L) == ((1L, 2L)))  // 1h: only the -30min click; 24h: both
    assert(out(6L) == ((1L, 1L)))  // cross-user isolation
  }

  test("auditManifest digest is order/partition-invariant and tamper-evident") {
    val d = Seq((1L, "alpha", "s1"), (2L, "beta", "s1"), (3L, "gamma", "s2"))
      .toDF("id", "text", "src")
    def manifest(df: org.apache.spark.sql.DataFrame) =
      LayoutOps.auditManifest(df, col("src"),
        LayoutOps.rowDigest(col("id"), col("text")))
        .as[(String, Long, Long)].collect().toSet
    val m1 = manifest(d.repartition(1))
    val m8 = manifest(d.repartition(8).sortWithinPartitions(desc("id")))
    assert(m1 == m8)
    // a single-bit content change flips the group digest
    val tampered = Seq((1L, "alphA", "s1"), (2L, "beta", "s1"),
      (3L, "gamma", "s2")).toDF("id", "text", "src")
    val mt = manifest(tampered)
    assert(mt.find(_._1 == "s1").get._3 != m1.find(_._1 == "s1").get._3)
    assert(mt.find(_._1 == "s2") == m1.find(_._1 == "s2"))
  }

  test("TopKAgg equals the sort-based reference under any partitioning") {
    val rows = (1L to 500L).map(i => (i % 7, (i * 2654435761L) % 1000, i))
    val df = rows.toDF("g", "score", "id")
    val topk = udaf(new TopKAgg(4))
    def run(parts: Int) = df.repartition(parts)
      .groupBy("g").agg(topk(col("score"), col("id")).as("ids"))
      .as[(Long, Seq[Long])].collect().toMap
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.sortBy(r => (-r._2, r._3)).take(4).map(_._3).toSeq
    }
    assert(run(1) == expected)
    assert(run(16) == expected)   // merge path exercised, same result
  }
}
