package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import TestFiles.ts

/** Invariants for the round-12d surface: sessionized conversion,
  * z-score outliers, and weighted per-class sampling. */
class R12dSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sessionConversion: gap splits sessions; double purchase counts once") {
    val gap = 10000L // 10 s
    val ev = Seq(
      // user 1, session A: view -> purchase -> purchase (converts ONCE)
      (1L, ts("2024-01-01 00:00:00"), 1L, "view"),
      (1L, ts("2024-01-01 00:00:02"), 2L, "purchase"),
      (1L, ts("2024-01-01 00:00:04"), 3L, "purchase"),
      // 30 s silence -> session B: view only (no conversion)
      (1L, ts("2024-01-01 00:00:34"), 4L, "view"),
      // user 2: single purchase event = one converted session
      (2L, ts("2024-01-01 00:00:00"), 5L, "purchase"),
      // user 3: never converts
      (3L, ts("2024-01-01 00:00:00"), 6L, "view")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = EventOps.sessionConversion(ev, col("user_id"), col("ts"),
        col("event_id"), col("event_type"), "purchase", gap)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((1L, 1L, 1.0)))
    assert(out(3L) == ((1L, 0L, 0.0)))
  }

  test("sessionConversion: boundary gap == gapMs stays in-session") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "view"),
      (1L, ts("2024-01-01 00:00:10"), 2L, "purchase") // exactly gapMs later
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = EventOps.sessionConversion(ev, col("user_id"), col("ts"),
        col("event_id"), col("event_type"), "purchase", gapMs = 10000L)
      .select("n_sessions", "n_converted").as[(Long, Long)].head()
    assert(out == ((1L, 1L))) // > gapMs opens a session, == does not
  }

  test("valueOutliers: planted spike flagged, constant group silent") {
    val base = (1L to 20L).map(i => (i, "a", 1.0))
    val spike = Seq((21L, "a", 100.0))
    val const = (30L to 40L).map(i => (i, "b", 5.0))
    val ev = (base ++ spike ++ const).toDF("event_id", "event_type", "value")
    val out = EventOps.valueOutliers(ev, col("event_id"), col("event_type"),
        col("value"))
      .select("event_id", "event_type", "z")
      .as[(Long, String, Double)].collect()
    assert(out.map(_._1).toSet == Set(21L)) // only the spike
    assert(out.head._3 > 3.0)
    assert(!out.exists(_._2 == "b")) // zero-variance group emits nothing
  }

  test("valueOutliers z matches the hand formula on exact integer moments") {
    // values 0,0,0,10 in group: mean 2.5, var 18.75 (milli-units scale out)
    val ev = Seq((1L, "g", 0.0), (2L, "g", 0.0), (3L, "g", 0.0),
      (4L, "g", 10.0)).toDF("event_id", "event_type", "value")
    val out = EventOps.valueOutliers(ev, col("event_id"), col("event_type"),
        col("value"), zThreshold = 1.0)
      .select("event_id", "z").as[(Long, Double)].collect().toMap
    // var = sq/n - mean^2 = 1e8/4 - 2500^2 = 1.875e7 (milli-units^2)
    val z4 = (10000.0 - 2500.0) / math.sqrt(1.0e8 / 4 - 2500.0 * 2500.0)
    assert(out(4L) == math.rint(z4 * 1e6) / 1e6)
    assert(!out.contains(1L)) // |z| = 0.577 below threshold 1
  }

  test("weightedQuotaSample: exactly k per class, keys follow u^(1/w)") {
    val rows = (1L to 50L).map(i => (i, if (i % 2 == 0) "a" else "b",
      (i % 7 + 1) * 100L))
    val df = rows.toDF("doc_id", "cls", "w")
    val out = SplitOps.weightedQuotaSample(df, col("cls"), col("doc_id"),
      col("w"), seed = 3L, k = 5)
    val byCls = out.groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(byCls == Map("a" -> 5L, "b" -> 5L))
    // spot-check the key formula on one selected row
    val (id, w, key) = out.select("doc_id", "w", "sample_key")
      .as[(Long, Long, Double)].head()
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"wquota:3:$id".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val u2 = java.lang.Long.parseLong(hex.substring(0, 8), 16) / 4294967296.0
    assert(key == math.rint(math.pow(u2, 1.0 / w) * 1e6) / 1e6)
  }

  test("weightedQuotaSample: k >= class size keeps everything") {
    val df = Seq((1L, "a", 10L), (2L, "a", 20L)).toDF("doc_id", "cls", "w")
    val out = SplitOps.weightedQuotaSample(df, col("cls"), col("doc_id"),
      col("w"), seed = 1L, k = 10)
    assert(out.count() == 2)
  }

  test("weightedQuotaSample: heavy weights win far more often") {
    // 100 rows, 10 with weight 1000, 90 with weight 1; sample 10 per class
    val df = (1L to 100L)
      .map(i => (i, "c", if (i <= 10) 1000L else 1L))
      .toDF("doc_id", "cls", "w")
    val picked = SplitOps.weightedQuotaSample(df, col("cls"), col("doc_id"),
        col("w"), seed = 9L, k = 10)
      .select("doc_id").as[Long].collect()
    // all ten heavy rows should dominate the winner set
    assert(picked.count(_ <= 10) >= 8)
  }
}
