package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps
import TestFiles.{ts, withTempDir}

/** Invariants for the round-12u surface: the streaming anomaly monitor. */
class R12uSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("anomalyStream == batch scoring on the same baseline") {
    // 2 events at 03:xx daily baseline (mean 2, sd 1); a 10-event spike day
    val rows = (1 to 3).flatMap { d =>
      (0 until 2).map(i => (s"e$d$i".hashCode.toLong, ts(f"2024-01-0$d 03:0$i:00"), 1L, "e", 1.0, ""))
    } ++ (0 until 10).map(i =>
      (1000L + i, ts(f"2024-01-04 03:${10 + i}%02d:00"), 1L, "e", 1.0, ""))
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val baseline = Map(("e", 3L) -> ((2.0, 1.0)))
    // batch form: tumblingCounts + the SAME scoring tail
    val batch = StreamingOps.scoreAgainstBaseline(
        StreamingOps.tumblingCounts(ev, "1 hour")
          .select("window_start_ms", "event_type", "cnt"),
        baseline)
      .as[(Long, String, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(batch.values.map(_._1).toSeq.sorted == Seq(2L, 2L, 2L, 10L))
    assert(batch.values.exists(v => v._1 == 10L && v._2.contains(8.0)))
    assert(batch.values.filter(_._1 == 2L).forall(_._2.contains(0.0)))
    withTempDir("graft-anom") { dir =>
      ev.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.anomalyStream(spark, dir.getAbsolutePath,
          ev.schema, "2 hours", baseline)
        .writeStream.format("memory").queryName("graft_anom_test")
        .outputMode("update").start()
      q.processAllAvailable()
      val streamed = spark.table("graft_anom_test")
        .as[(Long, String, Long, Option[Double])].collect()
        .map(r => r._1 -> ((r._3, r._4))).toMap
      q.stop()
      assert(streamed == batch)
    }
  }

  test("scoreAgainstBaseline: unknown type/hour scores null") {
    val wc = Seq((3L * 3600000L, "x", 5L)).toDF(
      "window_start_ms", "event_type", "cnt")
    val out = StreamingOps.scoreAgainstBaseline(wc,
        Map(("e", 3L) -> ((2.0, 1.0))))
      .select("z").as[Option[Double]].head()
    assert(out.isEmpty)
  }
}
