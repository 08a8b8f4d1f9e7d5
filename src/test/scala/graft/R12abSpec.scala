package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import graft.streaming.StreamingOps
import TestFiles.{ts, withTempDir}

/** Invariants for the round-12ab surface: Gram statistics, PCA, trend
  * slope, moments, and the streaming rate limiter. */
class R12abSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("gramTable matches a scalar reference and ignores malformed rows") {
    val vs = Seq(Seq(1.0f, 2.0f), Seq(3.0f, -1.0f), Seq(0.5f, 0.5f),
      null, Seq(9.0f))  // null and wrong-dim rows must be skipped
    val df = vs.toDF("embedding")
    val out = EmbedOps.gramTable(df, col("embedding"), d = 2)
      .as[(Int, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val good = vs.filter(v => v != null && v.size == 2)
    assert(out((0, 0)) == good.size.toLong)
    def s(j: Int) = good.map(v => math.floor(v(j - 1) * 1e9).toLong).sum
    def q(i: Int, j: Int) = good.map(v =>
      math.floor(v(i - 1).toDouble * v(j - 1).toDouble * 1e12).toLong).sum
    assert(out((0, 1)) == s(1) && out((0, 2)) == s(2))
    assert(out((1, 1)) == q(1, 1) && out((1, 2)) == q(1, 2) &&
      out((2, 2)) == q(2, 2))
    assert(out.size == 1 + 2 + 3)
  }

  test("pcaProject: PC1 captures the dominant axis, variances ordered") {
    // points spread along (1, 1, 0) with small noise on other axes
    val pts = (0 until 200).map { i =>
      val t = (i - 100).toFloat
      val n1 = ((i * 7919) % 11 - 5).toFloat * 0.1f
      val n2 = ((i * 104729) % 13 - 6).toFloat * 0.1f
      Seq(t + n1, t - n1, n2)
    }
    val df = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val out = EmbedOps.pcaProject(df, col("vec_id"), col("embedding"),
        d = 3, k = 2)
      .as[(Long, Seq[Double])].collect()
    assert(out.length == 200)
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val v1 = variance(out.map(_._2(0)).toSeq)
    val v2 = variance(out.map(_._2(1)).toSeq)
    assert(v1 > v2 * 10, s"v1=$v1 v2=$v2")  // dominant axis clearly first
    // PC1 ≈ (1,1,0)/√2: projections of (t+n1, t-n1, n2) ≈ t·√2
    val byId = out.map(r => r._1 -> r._2).toMap
    assert(math.abs(byId(150L)(0) - byId(50L)(0) -
      100.0 * math.sqrt(2.0)) < 1.0)
  }

  test("trendSlope recovers a planted linear trend exactly") {
    // type "a": y = 3 + 2x events at hour x for x in 0..9
    val ev = (0 until 10).flatMap { x =>
      (0 until 3 + 2 * x).map { j =>
        ("a", new java.sql.Timestamp(
          ts("2024-01-01 00:00:00").getTime + x * 3600000L + j * 1000L))
      }
    }.toDF("event_type", "ts")
    val r = EventOps.trendSlope(ev, col("event_type"), col("ts"))
      .as[(String, Long, Double, Double)].head()
    assert(r._2 == 10L)
    assert(math.abs(r._3 - 2.0) < 1e-12)
    assert(math.abs(r._4 - 3.0) < 1e-12)
  }

  test("valueMoments: symmetric data → 0 skew; uniform kurtosis ≈ -1.2") {
    val ev = (-500 to 500).map(i => ("u", i.toDouble)).toDF("event_type", "value")
    val r = EventOps.valueMoments(ev, col("event_type"), col("value"))
      .as[(String, Long, Double, Double, Double)].head()
    assert(r._2 == 1001L)
    assert(math.abs(r._3) < 1e-9)             // mean 0
    assert(math.abs(r._4) < 1e-6)             // symmetric → no skew
    assert(math.abs(r._5 - (-1.2)) < 0.01)    // discrete uniform ≈ -6/5
  }

  test("rateLimitStream admits the first k per key by event time") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:05"), 5L, "click", 0.0),
      (1L, ts("2024-01-01 00:00:01"), 1L, "click", 0.0),
      (1L, ts("2024-01-01 00:00:03"), 3L, "click", 0.0),
      (1L, ts("2024-01-01 00:00:04"), 4L, "click", 0.0),
      (2L, ts("2024-01-01 00:00:02"), 2L, "view", 0.0)
    ).toDF("user_id", "ts", "event_id", "event_type", "value")
    withTempDir("graft-rate") { dir =>
      ev.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.rateLimitStream(spark, dir.getAbsolutePath,
          ev.schema, maxPerKey = 2)
        .writeStream.format("memory").queryName("graft_rate_test")
        .outputMode("update").start()
      q.processAllAvailable()
      val got = spark.table("graft_rate_test")
        .as[(Long, Long, Long)].collect().toSet
      q.stop()
      // user 1: earliest two by ts are ids 1, 3; user 2 under quota
      assert(got == Set((1L, 1L, 1L), (1L, 3L, 2L), (2L, 2L, 1L)))
    }
  }
}
