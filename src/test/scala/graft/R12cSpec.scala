package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import TestFiles.ts

/** Invariants for the round-12c surface: salted join, cohort retention,
  * inter-event gaps, edit-distance confirm, readability, and the
  * coarse-then-rerank ANN stage. */
class R12cSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedJoin == plain join; dim replicated once per salt") {
    val fact = Seq((1L, "en"), (2L, "en"), (3L, "de"), (4L, "en"))
      .toDF("id", "lang")
    val dim = Seq(("en", 10L), ("de", 20L), ("fr", 30L)).toDF("lang", "v")
    val salted = SkewOps.saltedJoin(fact, dim, "lang", salts = 4,
        saltSource = col("id"))
      .select("id", "lang", "v").as[(Long, String, Long)].collect().toSet
    val plain = fact.join(dim, "lang").select("id", "lang", "v")
      .as[(Long, String, Long)].collect().toSet
    assert(salted == plain)
    assert(salted.size == 4) // every fact row matched exactly once
  }

  test("cohortRetention: cohort = first period, offsets count distinct users") {
    // periods of 10 seconds; epoch-ms periods are stable integers
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:01")), // u1 first in period P
      (1L, ts("2024-01-01 00:00:25")), // u1 again at P+2
      (1L, ts("2024-01-01 00:00:27")), // same period — no double count
      (2L, ts("2024-01-01 00:00:12")), // u2 first at P+1
      (2L, ts("2024-01-01 00:00:22"))  // u2 at P+2 (its offset 1)
    ).toDF("user_id", "ts")
    val out = EventOps.cohortRetention(ev, col("user_id"), col("ts"),
        periodMs = 10000L)
      .as[(Long, Long, Long)].collect()
      .map { case (c, o, n) => (c - ev.select(
        floor(floor(unix_micros(col("ts")) / 1000) / 10000L))
        .as[Long].collect().min, o) -> n }.toMap
    // cohorts rebased to 0: u1 cohort 0 with offsets {0, 2}; u2 cohort 1
    // with offsets {0, 1}
    assert(out == Map((0L, 0L) -> 1L, (0L, 2L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 1L))
  }

  test("interEventGaps: exact span/max/median; nulls for single event") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00")),
      (1L, ts("2024-01-01 00:00:01")), // gap 1000
      (1L, ts("2024-01-01 00:00:04")), // gap 3000
      (1L, ts("2024-01-01 00:00:06")), // gap 2000 -> sorted [1000,2000,3000]
      (2L, ts("2024-01-01 00:00:09"))
    ).toDF("user_id", "ts")
    val out = EventOps.interEventGaps(ev, col("user_id"), col("ts"))
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) == ((4L, 6000L, Some(3000L), Some(2000L))))
    assert(out(2L) == ((1L, 0L, None, None)))
  }

  test("editSimilarityPairs: exact distance on prefix, sim in [0,1]") {
    val docs = Seq(
      (1L, "kitten ran home"),
      (2L, "sitten ran home"),   // 1 substitution from doc 1
      (3L, "totally different")
    ).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val out = DedupOps.editSimilarityPairs(docs, col("text"), col("doc_id"),
        cand, prefixChars = 100)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out((1L, 2L))._1 == 1L)
    assert(out((1L, 2L))._2 == math.rint((1.0 - 1.0 / 15) * 1e6) / 1e6)
    assert(out((1L, 3L))._1 > 10L && out((1L, 3L))._2 < 0.5)
  }

  test("editSimilarityPairs caps work at prefixChars") {
    val a = "x" * 50 + "different tail " * 10
    val b = "x" * 50 + "other ending " * 12
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val cand = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out = DedupOps.editSimilarityPairs(docs, col("text"), col("doc_id"),
        cand, prefixChars = 50)
      .select("edit_dist").as[Long].head()
    assert(out == 0L) // identical within the prefix window
  }

  test("readability: hand-computed Flesch on a fixed sentence") {
    // "the cat sat." -> 3 words, 1 sentence, 3 syllables (e, a, a)
    val docs = Seq((1L, "the cat sat."), (2L, ""), (3L, null: String))
      .toDF("doc_id", "text")
    val out = TextOps.readability(docs, col("text"), col("doc_id"))
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    val expected = 206.835 - 1.015 * 3.0 - 84.6 * 1.0
    assert(out(1L) == ((1L, 3L, 1L, 3L,
      Some(math.rint(expected * 1e6) / 1e6))))
    assert(out(2L) == ((2L, 0L, 1L, 0L, None))) // wordless -> null score
    assert(out(3L) == ((3L, 0L, 1L, 0L, None))) // null text == empty
  }

  test("rerankTopK with coarseK = corpus size equals bruteTopK") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 30L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 3)
    val rr = SimilarityOps.rerankTopK(df, col("embedding"), col("vec_id"),
        q, col("embedding"), col("vec_id"),
        dims = 16, projDims = 8, coarseK = 29, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val bt = SimilarityOps.bruteTopK(df, col("embedding"), col("vec_id"),
        q, col("embedding"), col("vec_id"), k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(rr == bt) // all candidates survive coarse -> rerank is exact
  }

  test("rerankTopK candidates are a subset of the coarse stage") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 2)
    val coarse = SimilarityOps.bruteTopK(
        SimilarityOps.rpProjected(df, col("embedding"), col("vec_id"), 16, 8),
        col("rvec"), col("vec_id"),
        SimilarityOps.rpProjected(q, col("embedding"), col("vec_id"), 16, 8),
        col("rvec"), col("vec_id"), k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rr = SimilarityOps.rerankTopK(df, col("embedding"), col("vec_id"),
        q, col("embedding"), col("vec_id"),
        dims = 16, projDims = 8, coarseK = 10, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(rr.subsetOf(coarse))
  }
}
