package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.EventOps
import graft.streaming.StreamingOps
import TestFiles.{ts, withTempDir}

/** Round-15: streaming as-of enrichment == batch asofJoin under ordered
  * arrival, including across micro-batch boundaries (state carries the
  * running latest right row). */
class R15StreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // clicks enriched with the latest at-or-before purchase; covers: match
  // at the same instant (side rule), equal-ts purchases (greatest id
  // wins), no-prior-purchase (null match), null purchase value, and a
  // click far after its purchase (no window cap — unlike the interval
  // join, an as-of reaches arbitrarily far back)
  private val events = Seq(
    (1L, "2024-01-01 09:00:00", 10L, "purchase", 5.0),
    (1L, "2024-01-01 09:00:00", 11L, "purchase", 7.0),  // same ts, id 11 wins
    (1L, "2024-01-01 10:00:00", 1L, "click", 0.0),
    (1L, "2024-01-01 10:30:00", 12L, "purchase", 9.0),
    (1L, "2024-01-01 10:30:00", 2L, "click", 0.0),      // same instant: eligible
    (2L, "2024-01-01 08:00:00", 3L, "click", 0.0),      // no purchase before
    (2L, "2024-01-01 08:30:00", 13L, "purchase", 4.0),
    (2L, "2024-01-01 18:00:00", 4L, "click", 0.0),      // 9.5 h back: still matches
    (3L, "2024-01-01 12:00:00", 5L, "click", 0.0)       // user with no purchases
  ).map { case (u, t, id, et, v) => (u, ts(t), id, et, v) }
    .toDF("user_id", "ts", "event_id", "event_type", "value")

  private def batchRows = {
    val out = EventOps.asofJoin(
      events.where($"event_type" === "click"), col("event_id"),
      col("user_id"), col("ts"),
      events.where($"event_type" === "purchase"), col("event_id"),
      col("user_id"), col("ts"), col("value"))
      .select($"left_id", $"k", $"matched_id", $"matched_value")
      .as[(Long, Long, Option[Long], Option[Double])].collect().toSet
    graft.core.CacheScope.release()
    out
  }

  private def streamRows(dir: String, name: String) = {
    val q = StreamingOps.asofEnrichStream(spark, dir, events.schema)
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    q.processAllAvailable()
    val out = spark.table(name)
      .select($"left_id", $"k", $"matched_id", $"matched_value")
      .as[(Long, Long, Option[Long], Option[Double])].collect().toSet
    q.stop()
    out
  }

  test("single micro-batch: stream == batch asofJoin row-for-row") {
    val batch = batchRows
    assert(batch == Set(
      (1L, 1L, Some(11L), Some(7.0)),
      (2L, 1L, Some(12L), Some(9.0)),
      (3L, 2L, None, None),
      (4L, 2L, Some(13L), Some(4.0)),
      (5L, 3L, None, None)))
    withTempDir("graft-asofstream") { dir =>
      events.coalesce(1).write.mode("append")
        .parquet(dir.getAbsolutePath)
      assert(streamRows(dir.getAbsolutePath, "graft_asof_one") == batch)
    }
  }

  test("tolerance bounds staleness: stream == batch native as-of with " +
      "the same tolerance (the 9.5 h-stale match drops, fresh ones stay)") {
    val tolMs = 3600L * 1000L
    val batch = EventOps.asofJoinNative(
      events.where($"event_type" === "click"), col("event_id"),
      col("user_id"), col("ts"),
      events.where($"event_type" === "purchase"), col("event_id"),
      col("user_id"), col("ts"), col("value"), toleranceMs = tolMs)
      .select($"left_id", $"k", $"matched_id", $"matched_value")
      .as[(Long, Long, Option[Long], Option[Double])].collect().toSet
    graft.core.CacheScope.release()
    assert(batch.contains((4L, 2L, None, None)),
      "the 9.5 h-old purchase is outside the 1 h tolerance")
    assert(batch.contains((2L, 1L, Some(12L), Some(9.0))),
      "the same-instant match survives any tolerance")
    withTempDir("graft-asofstream3") { dir =>
      events.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.asofEnrichStream(spark, dir.getAbsolutePath,
          events.schema, toleranceMs = tolMs)
        .writeStream.format("memory").queryName("graft_asof_tol")
        .outputMode("update").start()
      q.processAllAvailable()
      val out = spark.table("graft_asof_tol")
        .select($"left_id", $"k", $"matched_id", $"matched_value")
        .as[(Long, Long, Option[Long], Option[Double])].collect().toSet
      q.stop()
      assert(out == batch)
    }
  }

  test("null semantics match the batch join: null-key/ts left rows emit " +
      "unmatched (not a crashed query), null right keys are discarded") {
    def jl(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    val nullable = Seq(
      (jl(1L), ts("2024-01-01 09:00:00"), jl(10L), "purchase", 5.0),
      (null.asInstanceOf[java.lang.Long], ts("2024-01-01 09:30:00"),
        jl(11L), "purchase", 7.0),                       // null-key right
      (jl(1L), ts("2024-01-01 10:00:00"), jl(1L), "click", 0.0),
      (null.asInstanceOf[java.lang.Long], ts("2024-01-01 10:30:00"),
        jl(2L), "click", 0.0),                           // null-key left
      (jl(2L), null.asInstanceOf[java.sql.Timestamp], jl(3L), "click", 0.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    withTempDir("graft-asofstream5") { dir =>
      nullable.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.asofEnrichStream(spark, dir.getAbsolutePath,
          nullable.schema)
        .writeStream.format("memory").queryName("graft_asof_nulls")
        .outputMode("update").start()
      q.processAllAvailable()
      val out = spark.table("graft_asof_nulls")
        .select($"left_id", $"matched_id")
        .as[(Option[Long], Option[Long])].collect().toSet
      q.stop()
      assert(out == Set(
        (Some(1L), Some(10L)), // valid click matches the valid purchase
        (Some(2L), None),      // null-key click preserved, unmatched
        (Some(3L), None)),     // null-ts click preserved, unmatched
        s"got $out — and the null-key purchase (11) must match nothing")
    }
  }

  test("stateTtl bounds total state: an idle key is evicted once the " +
      "watermark passes its TTL, a fresh key's state survives") {
    withTempDir("graft-asofstream4") { dir =>
      def ev(rows: Seq[(Long, String, Long, String, Double)]) =
        rows.map { case (u, t, id, et, v) => (u, ts(t), id, et, v) }
          .toDF("user_id", "ts", "event_id", "event_type", "value")
      // batch 1: user 1 purchases at 08:00 (state created)
      ev(Seq((1L, "2024-01-01 08:00:00", 100L, "purchase", 1.0)))
        .coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.asofEnrichStream(spark, dir.getAbsolutePath,
          events.schema, stateTtl = Some("2 hours"))
        .writeStream.format("memory").queryName("graft_asof_ttl")
        .outputMode("update").start()
      q.processAllAvailable()
      // batch 2: user 2 far in the future — advances the watermark to
      // 22:00 (24:00 − 2 h TTL), far past user 1's 08:00+2 h timeout
      ev(Seq((2L, "2024-01-02 00:00:00", 200L, "purchase", 2.0)))
        .coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      q.processAllAvailable()
      // batch 3: the timeout fires (user 1 evicted); then batch 4's
      // click from user 1 finds NO state, while user 2's state (within
      // TTL of the watermark) still matches
      ev(Seq((2L, "2024-01-02 00:30:00", 201L, "click", 0.0),
          (1L, "2024-01-02 00:30:00", 101L, "click", 0.0)))
        .coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      q.processAllAvailable()
      val out = spark.table("graft_asof_ttl")
        .select($"left_id", $"matched_id")
        .as[(Long, Option[Long])].collect().toMap
      q.stop()
      assert(out(201L) == Some(200L), "fresh key's state survives the TTL")
      assert(out(101L) == None,
        "evicted key: the 08:00 purchase is gone, the click is unmatched")
    }
  }

  test("ordered arrival across micro-batches: per-key state carries the " +
      "running latest purchase over the batch boundary") {
    withTempDir("graft-asofstream2") { dir =>
      // time-split the SAME events into two micro-batches by draining
      // the first file before the second lands — user 2's 18:00 click
      // must match the 08:30 purchase seen a batch earlier (carried in
      // per-key state, not in any window buffer)
      val cut = ts("2024-01-01 10:00:00")
      events.where($"ts" < cut).coalesce(1)
        .write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.asofEnrichStream(spark, dir.getAbsolutePath,
          events.schema)
        .writeStream.format("memory").queryName("graft_asof_two")
        .outputMode("update").start()
      q.processAllAvailable()
      assert(spark.table("graft_asof_two").count() == 1,
        "first micro-batch carries exactly the one pre-cut click")
      events.where($"ts" >= cut).coalesce(1)
        .write.mode("append").parquet(dir.getAbsolutePath)
      q.processAllAvailable()
      val out = spark.table("graft_asof_two")
        .select($"left_id", $"k", $"matched_id", $"matched_value")
        .as[(Long, Long, Option[Long], Option[Double])].collect().toSet
      q.stop()
      assert(out == batchRows)
    }
  }
}
