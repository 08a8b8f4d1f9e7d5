package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import TestFiles.ts

/** Invariants for the round-12r surface: upsert and seasonal anomalies. */
class R12rSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("upsert: updates win, unmatched base survives, inserts land") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val updates = Seq((2L, "B2"), (9L, "new")).toDF("id", "v")
    val out = LayoutOps.upsert(base, updates, "id")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B2", 3L -> "c", 9L -> "new"))
  }

  test("hourlyAnomalies: spike against same-hour baseline flagged") {
    // type "e": 7 days of exactly 2 events at 03:00, then a day with 30 —
    // the spike hour deviates from ITS OWN hour-of-day baseline
    val rows = (0 until 7).flatMap { d =>
      (0 until 2).map(i => ("e", ts(f"2024-01-0${d + 1} 03:0$i:00")))
    } ++ (0 until 30).map(i => ("e", ts(f"2024-01-08 03:${i % 60}%02d:00")))
    val ev = rows.toDF("event_type", "ts")
    val out = EventOps.hourlyAnomalies(ev, col("event_type"), col("ts"))
      .as[(String, Long, Long, Double)].collect()
    assert(out.length == 1)       // only the spike hour flags
    assert(out.head._3 == 30L)    // with its raw count
    assert(out.head._4 > 2.0)
  }

  test("hourlyAnomalies: uniform traffic flags nothing") {
    val ev = (0 until 5).flatMap(d => (0 until 24).map(h =>
      ("e", ts(f"2024-01-0${d + 1} $h%02d:00:00")))).toDF("event_type", "ts")
    assert(EventOps.hourlyAnomalies(ev, col("event_type"), col("ts"))
      .count() == 0L) // every hour count == its baseline, var = 0
  }
}
