package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import TestFiles.ts

/** Invariants for the round-12z surface: SCD-2, path n-grams, BM25,
  * rollup merge, and the Z-order layout. */
class R12zSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("scd2Intervals: abutting intervals, one current row per key") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:01"), 1L, 10.0),
      (1L, ts("2024-01-01 00:00:05"), 2L, 20.0),
      (1L, ts("2024-01-01 00:00:09"), 3L, 30.0),
      (2L, ts("2024-01-01 00:00:02"), 4L, 99.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val out = EventOps.scd2Intervals(ev, col("user_id"), col("ts"),
        col("event_id"), col("value"))
      .as[(Long, Double, Long, Option[Long], Boolean)].collect()
      .sortBy(r => (r._1, r._3))
    assert(out.length == 4)
    // intervals abut exactly: valid_to == next valid_from
    val u1 = out.filter(_._1 == 1L)
    assert(u1.map(_._2).toSeq == Seq(10.0, 20.0, 30.0))
    assert(u1(0)._4.contains(u1(1)._3) && u1(1)._4.contains(u1(2)._3))
    // exactly one open (current) interval per key
    assert(out.count(r => r._1 == 1L && r._5) == 1)
    assert(out.count(r => r._1 == 2L && r._5) == 1)
    assert(u1.last._5 && u1.init.forall(!_._5))
  }

  test("pathNgrams counts sliding trigrams per key's ordered sequence") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:01"), 1L, "a"),
      (1L, ts("2024-01-01 00:00:02"), 2L, "b"),
      (1L, ts("2024-01-01 00:00:03"), 3L, "c"),
      (1L, ts("2024-01-01 00:00:04"), 4L, "b"),
      (2L, ts("2024-01-01 00:00:01"), 5L, "a"),
      (2L, ts("2024-01-01 00:00:02"), 6L, "b"),
      (2L, ts("2024-01-01 00:00:03"), 7L, "c"),
      (3L, ts("2024-01-01 00:00:01"), 8L, "x")   // too short: no trigram
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = EventOps.pathNgrams(ev, col("user_id"), col("ts"),
        col("event_id"), col("event_type"), n = 3)
      .as[(String, Long)].collect().toMap
    assert(out == Map("a>b>c" -> 2L, "b>c>b" -> 1L))
  }

  test("bm25TopK matches a scalar reference on a planted corpus") {
    val docs = Seq(
      (1L, "join join join filler filler"),
      (2L, "join vector filler"),
      (3L, "filler filler filler filler filler filler filler"),
      (4L, "vector vector join")
    ).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, col("doc_id"), col("text"),
        terms = Seq("join", "vector"), k = 4)
      .as[(Long, Double)].collect().toMap
    // scalar reference (same formula, same fixed-point steps)
    val corpus = Map(1L -> Seq("join", "join", "join", "filler", "filler"),
      2L -> Seq("join", "vector", "filler"),
      3L -> Seq.fill(7)("filler"), 4L -> Seq("vector", "vector", "join"))
    val n = corpus.size.toDouble
    val avgdl = corpus.values.map(_.size).sum.toDouble / n
    def idf(t: String): Double = {
      val df = corpus.values.count(_.contains(t)).toDouble
      math.floor(math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e9) / 1e9
    }
    def score(id: Long): Double = {
      val dl = corpus(id).size.toDouble
      val c = Seq("join", "vector").map { t =>
        val tf = corpus(id).count(_ == t).toDouble
        if (tf == 0) 0L
        else math.floor(idf(t) * ((tf * (1.2 + 1.0)) /
          (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) * 1e9).toLong
      }.sum
      math.rint(c.toDouble / 1e9 * 1e6) / 1e6
    }
    corpus.keys.filter(k => k != 3L).foreach { id =>
      assert(math.abs(out(id) - score(id)) < 1e-9, s"doc $id")
    }
    assert(!out.contains(3L))  // no query term → no row
    // doc 4 (2×vector, rarer term, short) must outrank doc 2 (1 of each)
    assert(out(4L) > out(2L))
  }

  test("mergeRollups of disjoint partials equals the direct rollup") {
    val a = Seq(("x", 1L, 2L, 10L), ("y", 1L, 1L, 5L)).toDF("k", "day", "n", "v")
    val b = Seq(("x", 1L, 3L, 7L), ("z", 2L, 4L, 1L)).toDF("k", "day", "n", "v")
    val out = LayoutOps.mergeRollups(a, b, Seq("k", "day"), Seq("n", "v"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(out == Set(("x", 1L, 5L, 17L), ("y", 1L, 1L, 5L), ("z", 2L, 4L, 1L)))
  }

  test("zOrderValue interleaves bits; writeZOrdered clusters both dims") {
    // interleave correctness vs a scalar reference
    val ref = (a: Long, b: Long) => (0 until 10).map { i =>
      (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }.reduce(_ | _)
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (513L, 257L), (1023L, 1023L))
    val got = pairs.toDF("a", "b")
      .select(LayoutOps.zOrderValue(col("a"), col("b"), 10).as("z"))
      .as[Long].collect()
    assert(got.toSeq == pairs.map { case (a, b) => ref(a, b) })
    // layout: after z-order write, each file covers a narrow box of the
    // (a, b) plane — per-file spans far below the full 0..1023 domain
    val dir = java.nio.file.Files.createTempDirectory("graft-zord").toString
    val df = spark.range(65536L)
      .select(pmod(col("id") * 2654435761L, lit(1024)).as("a"),
        pmod(col("id") * 40503L, lit(1024)).as("b"))
    LayoutOps.writeZOrdered(df, col("a"), col("b"), bits = 10,
      nParts = 16, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 65536L)
    val spans = back
      .withColumn("f", input_file_name())
      .groupBy("f")
      .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
      .agg(avg("sa"), avg("sb")).head()
    // random placement would give ~1023 span on both; z-order must cut the
    // average per-file span on BOTH dimensions well below the domain
    assert(spans.getDouble(0) < 700.0 && spans.getDouble(1) < 700.0,
      s"spans: $spans")
  }
}
