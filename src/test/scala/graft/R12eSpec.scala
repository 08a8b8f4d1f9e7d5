package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

/** Invariants for the round-12e surface: JS divergence, kNN label
  * propagation, and the incremental embedding index. */
class R12eSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("jsDivergence: 0 for identical corpora, ln 2 for disjoint ones") {
    val a = Seq("alpha beta gamma", "beta beta delta").toDF("text")
    val sameJs = TextOps.jsDivergence(a, col("text"), a, col("text"))
      .select("js_nats").as[Double].head()
    assert(sameJs == 0.0)
    val b = Seq("epsilon zeta", "zeta eta theta").toDF("text")
    val disjJs = TextOps.jsDivergence(a, col("text"), b, col("text"))
      .select("js_nats").as[Double].head()
    // disjoint supports -> exactly ln 2 up to the nano-unit floor
    assert(math.abs(disjJs - math.log(2.0)) < 1e-5)
  }

  test("jsDivergence: symmetric and bounded on overlapping corpora") {
    val a = Seq("the cat sat", "the dog ran").toDF("text")
    val b = Seq("the cat sat", "a bird flew").toDF("text")
    val ab = TextOps.jsDivergence(a, col("text"), b, col("text"))
      .select("js_nats").as[Double].head()
    val ba = TextOps.jsDivergence(b, col("text"), a, col("text"))
      .select("js_nats").as[Double].head()
    assert(ab == ba)
    assert(ab > 0.0 && ab < math.log(2.0))
  }

  test("knnClassify: planted clusters vote their own label; ties -> min label") {
    // two tight clusters on orthogonal axes, labels 0 and 1
    def v(axis: Int, eps: Float): Array[Float] = {
      val a = Array.fill(4)(0f); a(axis) = 1f; a((axis + 1) % 4) = eps; a
    }
    val labeled = (
      (0L until 4L).map(i => (i, v(0, 0.01f * i), 0)) ++
      (4L until 8L).map(i => (i, v(2, 0.01f * (i - 4)), 1))
    ).toDF("vec_id", "embedding", "label")
    val q = Seq((100L, v(0, 0.02f)), (101L, v(2, 0.02f)))
      .toDF("vec_id", "embedding")
    val out = MlOps.knnClassify(labeled, col("embedding"), col("vec_id"),
        col("label"), q, col("embedding"), col("vec_id"), k = 3)
      .as[(Long, Int, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(100L) == ((0, 3L)))
    assert(out(101L) == ((1, 3L)))
    // k = 8 over a 4/4 split ties the vote -> smallest label wins
    val tied = MlOps.knnClassify(labeled, col("embedding"), col("vec_id"),
        col("label"), q, col("embedding"), col("vec_id"), k = 8)
      .as[(Long, Int, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(tied(100L) == 0 && tied(101L) == 0)
  }

  private def randVecs(n: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
  }

  test("embCandidatesAgainst == banded pairs on union, new-touching only") {
    val dir = java.nio.file.Files.createTempDirectory("embidx").toString
    val all = randVecs(40, 5).toDF("vec_id", "embedding")
    val idx = all.where(col("vec_id") % 2 === 0)
    val shard = all.where(col("vec_id") % 2 === 1)
    DedupOps.embIndexWrite(idx, col("embedding"), col("vec_id"),
      dims = 8, dir)
    val inc = DedupOps.embCandidatesAgainst(dir, shard, col("embedding"),
        col("vec_id"), dims = 8, minCosine = 0.0)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val full = DedupOps.embeddingPairsBanded(all, col("embedding"),
        col("vec_id"), minCosine = 0.0, dims = 8)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
      .filter { case (a, b) => a % 2 == 1 || b % 2 == 1 }.toSet
    assert(inc == full)
  }

  test("embIndexAppend accumulates; param mismatch fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("embidx2").toString
    val vs = randVecs(30, 9).toDF("vec_id", "embedding")
    DedupOps.embIndexWrite(vs.where(col("vec_id") < 10), col("embedding"),
      col("vec_id"), dims = 8, dir)
    DedupOps.embIndexAppend(vs.where(col("vec_id") >= 10 &&
        col("vec_id") < 20), col("embedding"), col("vec_id"), dims = 8, dir)
    val shard = vs.where(col("vec_id") >= 20)
    val inc = DedupOps.embCandidatesAgainst(dir, shard, col("embedding"),
        col("vec_id"), dims = 8, minCosine = 0.0)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val full = DedupOps.embeddingPairsBanded(vs, col("embedding"),
        col("vec_id"), minCosine = 0.0, dims = 8)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
      .filter { case (a, b) => a >= 20 || b >= 20 }.toSet
    assert(inc == full)
    intercept[IllegalArgumentException] {
      DedupOps.embCandidatesAgainst(dir, shard, col("embedding"),
        col("vec_id"), dims = 16, minCosine = 0.0)
    }
  }

  test("embedding index: a seed outside Int range fails instead of aliasing") {
    // 4294967338 = 42 + 2^32: the stored Int seed would read back as 42
    // while the band keys were hashed under the full Long seed
    val dir = java.nio.file.Files.createTempDirectory("embidx3").toString
    val vs = randVecs(20, 3).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      DedupOps.embIndexWrite(vs, col("embedding"), col("vec_id"), dims = 8,
        dir, seed = 4294967338L)
      DedupOps.embCandidatesAgainst(dir, vs, col("embedding"), col("vec_id"),
        dims = 8, minCosine = 0.0, seed = 42L).collect()
    }
    assert(e.getMessage.contains("seed"))
  }
}
