package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import TestFiles.ts

/** Invariants for the round-12k surface: Markov transitions and
  * percentile rank. */
class R12kSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("transitionMatrix: hand-built journeys; rows normalize to 1") {
    val ev = Seq(
      // user 1: a -> b -> a ; user 2: a -> c ; user 3: lone event
      (1L, ts("2024-01-01 00:00:01"), 1L, "a"),
      (1L, ts("2024-01-01 00:00:02"), 2L, "b"),
      (1L, ts("2024-01-01 00:00:03"), 3L, "a"),
      (2L, ts("2024-01-01 00:00:01"), 4L, "a"),
      (2L, ts("2024-01-01 00:00:02"), 5L, "c"),
      (3L, ts("2024-01-01 00:00:09"), 6L, "z")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = EventOps.transitionMatrix(ev, col("user_id"), col("ts"),
        col("event_id"), col("event_type"))
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out == Map(
      ("a", "b") -> ((1L, 0.5)), ("a", "c") -> ((1L, 0.5)),
      ("b", "a") -> ((1L, 1.0))))
    // lone events contribute nothing; per-from probabilities sum to 1
    val sums = out.toSeq.groupBy(_._1._1)
      .map { case (f, rs) => f -> rs.map(_._2._2).sum }
    assert(sums.values.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("transitionMatrix: equal-ts ties order by event id") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:01"), 2L, "b"), // same instant, id 2
      (1L, ts("2024-01-01 00:00:01"), 1L, "a")  // same instant, id 1 first
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = EventOps.transitionMatrix(ev, col("user_id"), col("ts"),
        col("event_id"), col("event_type"))
      .select("from_type", "to_type").as[(String, String)].collect().toSeq
    assert(out == Seq(("a", "b")))
  }

  test("percentileRank: exact ranks, tie-broken by id, [0,1] endpoints") {
    val df = Seq((1L, 10L), (2L, 30L), (3L, 20L), (4L, 30L))
      .toDF("doc_id", "m")
    val out = TextOps.percentileRank(df, col("m"), col("doc_id"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // order: 10(1) < 20(3) < 30(2) < 30(4) — tie 30s by doc_id
    assert(out == Map(1L -> 0.0, 3L -> math.rint(1e6 / 3) / 1e6,
      2L -> math.rint(2e6 / 3) / 1e6, 4L -> 1.0))
  }

  test("percentileRank: single row lands at 0") {
    val df = Seq((7L, 42L)).toDF("doc_id", "m")
    val out = TextOps.percentileRank(df, col("m"), col("doc_id"))
      .select("pctile").as[Double].head()
    assert(out == 0.0)
  }
}
