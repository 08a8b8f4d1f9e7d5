package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import TestFiles.ts

/** Invariants for the round-12af surface: cross-correlation and keyness. */
class R12afSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("crossCorrelation peaks at the planted lag") {
    // b(h) = a(h-2): 1 purchase two hours after every click burst; a has
    // a distinctive sawtooth so the lag-2 alignment is unambiguous
    val bursts = Seq(0 -> 5, 1 -> 1, 2 -> 4, 3 -> 1, 4 -> 6, 5 -> 1, 6 -> 3)
    val base = ts("2024-01-01 00:00:00").getTime
    val clicks = bursts.flatMap { case (h, n) =>
      (0 until n).map(j => ("click",
        new java.sql.Timestamp(base + h * 3600000L + j * 1000L)))
    }
    val purchases = bursts.flatMap { case (h, n) =>
      (0 until n).map(j => ("purchase",
        new java.sql.Timestamp(base + (h + 2) * 3600000L + j * 1000L)))
    }
    val ev = (clicks ++ purchases).toDF("event_type", "ts")
    val out = EventOps.crossCorrelation(ev, col("event_type"), col("ts"),
        "click", "purchase", maxLag = 3)
      .as[(Int, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(out(2) > 0.95, s"lag-2 r=${out(2)}")
    assert(out(2) > out(0) && out(2) > out(1) && out(2) > out(3))
  }

  test("keyness surfaces the focus slice's distinctive token") {
    val docs = (1 to 30).map(i => ("focus", "common zebra unique")) ++
      (1 to 70).map(i => ("rest", "common plain filler"))
    val out = TextOps.keyness(docs.toDF("src", "text"), col("text"),
        col("src") === "focus", k = 3)
      .as[(String, Long, Long, Double)].collect()
    // zebra/unique appear ONLY in focus → top keyness; 'common' is shared
    val top = out.map(_._1).toSet
    assert(top.contains("zebra") && top.contains("unique"))
    assert(!top.contains("common"))
    val zebra = out.find(_._1 == "zebra").get
    assert(zebra._2 == 30L && zebra._3 == 0L && zebra._4 > 50.0)
  }

  test("ZOrder64 native expression: interpreted == codegen == SQL form") {
    val ref = (a: Long, b: Long) => (0 until 10).map { i =>
      (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }.reduce(_ | _)
    val df = Seq((0L, 0L), (5L, 3L), (1023L, 512L), (768L, 255L))
      .toDF("a", "b")
    val viaColumn = df
      .select(graft.functions.ZOrder64.zorder64(col("a"), col("b"), 10))
      .as[Long].collect().toSeq
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("zin")
    val viaSql = spark.sql("SELECT zorder64(a, b, 10) FROM zin")
      .as[Long].collect().toSeq
    val expected = Seq((0L, 0L), (5L, 3L), (1023L, 512L), (768L, 255L))
      .map { case (a, b) => ref(a, b) }
    assert(viaColumn == expected)
    assert(viaSql == expected)
  }
}
