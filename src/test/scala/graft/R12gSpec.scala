package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import graft.streaming.StreamingOps
import TestFiles.{ts, withTempDir}

/** Invariants for the round-12g surface: exact-moment correlation and the
  * stateless/stream outlier scorer. */
class R12gSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("valueHourCorr: planted perfect/anti/degenerate correlations") {
    // type "up": value == hour -> r = 1; "down": value == -hour -> r = -1;
    // "flat": constant value -> null (zero variance)
    val ev = (0 until 24).flatMap { h =>
      val t = ts(f"2024-01-01 $h%02d:30:00")
      Seq(("up", h.toDouble, t), ("down", -h.toDouble, t), ("flat", 5.0, t))
    }.toDF("event_type", "value", "ts")
    val out = EventOps.valueHourCorr(ev, col("event_type"), col("value"),
        col("ts"))
      .as[(String, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("up") == ((24L, Some(1.0))))
    assert(out("down") == ((24L, Some(-1.0))))
    assert(out("flat") == ((24L, None)))
  }

  test("outlierScoreStateless == broadcast-join form; stream == batch") {
    val ev = ((1L to 30L).map(i => (i, "a", (i % 3).toDouble)) :+
      ((31L, "a", 50.0)) :+ ((32L, "x", 1.0))).toDF(
      "event_id", "event_type", "value")
    val stats = EventOps.valueStats(ev.where(col("event_type") === "a"),
      col("event_type"), col("value"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("event_id", "z").as[(Long, Option[Double])].collect().toMap
    val stateless = rows(EventOps.outlierScoreStateless(ev, col("event_id"),
      col("event_type"), col("value"), stats))
    // the planted spike scores far out; unknown type scores null
    assert(stateless(31L).exists(_ > 3.0))
    assert(stateless(32L).isEmpty)
    // agrees with the flagged rows of the join form at the same threshold
    val joined = EventOps.valueOutliers(
        ev.where(col("event_type") === "a"), col("event_id"),
        col("event_type"), col("value"), zThreshold = 3.0)
      .select("event_id", "z").as[(Long, Double)].collect().toMap
    joined.foreach { case (id, z) => assert(stateless(id).contains(z)) }
    // stream form is bit-equal on the same stats
    withTempDir("graft-oss") { dir =>
      ev.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.outlierScoreStream(spark, dir.getAbsolutePath,
          ev.schema, stats)
        .writeStream.format("memory").queryName("graft_oss_test")
        .outputMode("append").start()
      q.processAllAvailable()
      val streamed = rows(spark.table("graft_oss_test"))
      q.stop()
      assert(streamed == stateless)
    }
  }
}
