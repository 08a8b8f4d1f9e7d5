package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import graft.streaming.StreamingOps
import TestFiles.{ts, withTempDir}

/** Invariants for the round-12y surface: join census, bloom prune,
  * interpolation, and the stream–stream attribution join. */
class R12ySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("joinSizeCensus equals the materialized join's census") {
    val a = Seq(1, 1, 1, 2, 2, 3, 5).toDF("k")
    val b = Seq(1, 2, 2, 2, 4).toDF("k2")
    val row = JoinOps.joinSizeCensus(a, col("k"), b, col("k2")).head()
    // materialize the join and cross-check every figure
    val j = a.join(b, col("k") === col("k2"))
    assert(row.getLong(1) == j.count())                       // join_rows
    assert(row.getLong(0) == 2L)                              // keys 1 and 2
    val maxPerKey = j.groupBy("k").count()
      .agg(max("count")).head().getLong(0)
    assert(row.getLong(2) == maxPerKey)                       // 2*3=6
    assert(row.getLong(1) == 3L + 6L)
  }

  test("bloomSemiPrune keeps every true match; prune + join == plain join") {
    val probe = (1L to 1000L).toDF("pk")
    val build = (1L to 1000L by 10).toDF("bk")              // 100 keys
    val pruned = JoinOps.bloomSemiPrune(probe, col("pk"),
      build, col("bk"), expectedItems = 100L)
    // superset of the true semi-join: all 100 matching keys survive
    val keptKeys = pruned.as[Long].collect().toSet
    assert((1L to 1000L by 10).forall(keptKeys.contains))
    // fpp bound holds loosely: far fewer than all rows survive
    assert(keptKeys.size < 300)
    // pruned-then-exact-join equals the plain join exactly
    val viaBloom = pruned.join(build, col("pk") === col("bk"))
      .select("pk").as[Long].collect().sorted
    val plain = probe.join(build, col("pk") === col("bk"))
      .select("pk").as[Long].collect().sorted
    assert(viaBloom.sameElements(plain))
  }

  test("interpolateHourly fills interior gaps linearly, endpoints observed") {
    // one type, hours 0, 1, 4 observed with sums 1.0, 2.0, 8.0 — hours 2, 3
    // must interpolate to 4.0 and 6.0 (linear between 2.0@1 and 8.0@4)
    val ev = Seq(
      ("a", ts("2024-01-01 00:10:00"), 1.0),
      ("a", ts("2024-01-01 01:10:00"), 2.0),
      ("a", ts("2024-01-01 04:10:00"), 8.0)
    ).toDF("event_type", "ts", "value")
    val out = EventOps.interpolateHourly(ev, col("event_type"), col("ts"),
        col("value"))
      .orderBy("hr").as[(String, Long, Boolean, Double)].collect()
    assert(out.length == 5)
    assert(out.map(_._4).toSeq == Seq(1.0, 2.0, 4.0, 6.0, 8.0))
    assert(out.map(_._3).toSeq == Seq(false, false, true, true, false))
    // endpoints are observed hours — never extrapolated
    assert(!out.head._3 && !out.last._3)
  }

  test("attributionStream == batch interval join on the same events") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0),
      (1L, ts("2024-01-01 10:30:00"), 2L, "click", 0.0),
      (1L, ts("2024-01-01 11:00:00"), 3L, "purchase", 9.0),
      (2L, ts("2024-01-01 08:00:00"), 4L, "click", 0.0),
      (2L, ts("2024-01-01 11:00:00"), 5L, "purchase", 5.0), // click 3h old: out of 1h window
      (3L, ts("2024-01-01 11:30:00"), 6L, "purchase", 2.0)  // no click at all
    ).toDF("user_id", "ts", "event_id", "event_type", "value")
    val windowMs = 3600L * 1000L
    val batch = {
      val c = ev.where($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("click_id"))
      val p = ev.where($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("purchase_id"))
      p.join(c, $"p_user" === $"c_user" && $"c_ts" <= $"p_ts" &&
          $"c_ts" >= $"p_ts" - expr(s"INTERVAL $windowMs MILLISECOND"))
        .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
    }
    assert(batch == Set((3L, 1L), (3L, 2L)))
    withTempDir("graft-attr") { dir =>
      ev.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.attributionStream(spark, dir.getAbsolutePath,
          ev.schema, windowMs)
        .writeStream.format("memory").queryName("graft_attr_test")
        .outputMode("append").start()
      q.processAllAvailable()
      val streamed = spark.table("graft_attr_test")
        .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
      q.stop()
      assert(streamed == batch)
    }
  }
}
