package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DedupOps

/** Shared-layout equivalence: every one-call dedup operator must return
  * EXACTLY the rows of its stage composition fed the precomputed frame a
  * layout lands (Tables.minhashCands / winnowPosAgg / ngramPairStats land
  * precisely these frames; parquet round-trips longs and long arrays
  * bit-exactly, so in-memory equality proves the landed path too).  Also
  * pins the one-call storage contract and the [[graft.queries.Layout]]
  * helper's build-once bookkeeping. */
class R21LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again", "a"),
    (1L, "the quick brown fox jumps over the lazy dog again and again", "a"),
    (2L, "completely different text body with no overlap whatsoever!!", "b"),
    (3L, "the quick brown fox jumps over the lazy dog AGAIN and AGAIN", "b"),
    (4L, "another unrelated document body to pad the tiny fixture set", "c"))
    .toDF("doc_id", "text", "source")

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.select(df.columns.sorted.map(col): _*).collect()
      .map(_.toString).sorted.toSeq

  private def cands(d: org.apache.spark.sql.DataFrame) =
    DedupOps.minhashCandidates(d, col("text"), col("doc_id"),
      k = 3, numHashes = 16, bands = 4)

  test("fuzzyDedup(candidates = precomputed) == fuzzyDedup()") {
    val d = corpus
    val a = DedupOps.fuzzyDedup(d, col("text"), col("doc_id"))
    val b = DedupOps.removeClusterLosers(d, col("doc_id"),
      DedupOps.confirmJaccard(d, col("text"), col("doc_id"), cands(d),
        minJaccard = 0.5))
    assert(sortedRows(a) == sortedRows(b))
  }

  test("minhashEvalReport(candidates = precomputed) == inline") {
    val d = corpus
    val a = DedupOps.minhashEvalReport(d, col("text"), col("doc_id"))
    val b = DedupOps.candidateRecall(
      DedupOps.ngramJaccardPairs(d, col("text"), col("doc_id"),
        minJaccard = 0.5),
      cands(d))
    assert(sortedRows(a) == sortedRows(b))
  }

  test("span tier with posAggTable == compute-inline (all three operators)") {
    val d = corpus
    val agg = DedupOps.winnowPosAgg(d, col("text"), col("doc_id"),
      k = 25, w = 4)
    val spansA = DedupOps.sharedSpans(d, col("text"), col("doc_id"),
      k = 25, w = 4, maxDocFreq = 100)
    val spansB = DedupOps.sharedSpansFrom(agg, d, col("text"), col("doc_id"),
      k = 25, w = 4, maxDocFreq = 100)
    assert(sortedRows(spansA) == sortedRows(spansB))
    val pairsA = DedupOps.winnowPairs(d, col("text"), col("doc_id"),
      k = 25, w = 4, maxDocFreq = 100, minSharedFps = 1)
    val pairsB = DedupOps.winnowPairsFrom(agg, maxDocFreq = 100,
      minSharedFps = 1)
    assert(sortedRows(pairsA) == sortedRows(pairsB))
    val cutA = DedupOps.spanDedupedText(d, col("text"), col("doc_id"),
      k = 25, w = 4, maxDocFreq = 100)
    val cutB = DedupOps.spanCutText(d, col("text"), col("doc_id"), spansB)
    assert(sortedRows(cutA) == sortedRows(cutB))
    assert(spansA.count() > 0) // the fixture must actually exercise spans
  }

  test("confirmJaccard/fuzzyDedup with pairStats == compute-inline") {
    val d = corpus
    val cand = cands(d)
    val stats = DedupOps.ngramPairStats(d, col("text"), col("doc_id"),
      k = 3, maxDocFreq = 100)
    // 0.0 included: zero-common candidates must drop out of both forms
    Seq(0.2, 0.0).foreach { minJ =>
      val ca = DedupOps.confirmJaccard(d, col("text"), col("doc_id"), cand,
        k = 3, maxDocFreq = 100, minJaccard = minJ)
      val cb = DedupOps.jaccardFromStats(
          cand.join(stats, Seq("doc_a", "doc_b")), minJ)
        .select("doc_a", "doc_b", "jaccard")
      assert(sortedRows(ca) == sortedRows(cb), s"minJaccard = $minJ")
      assert(ca.count() > 0)
    }
    val fa = DedupOps.fuzzyDedup(d, col("text"), col("doc_id"))
    val fb = DedupOps.removeClusterLosers(d, col("doc_id"),
      DedupOps.jaccardFromStats(cand.join(stats, Seq("doc_a", "doc_b")),
        minJaccard = 0.5))
    assert(sortedRows(fa) == sortedRows(fb))
  }

  test("jaccard/containment with pairStats == compute-inline") {
    val d = corpus
    val stats = DedupOps.ngramPairStats(d, col("text"), col("doc_id"),
      k = 3, maxDocFreq = 100)
    val ja = DedupOps.ngramJaccardPairs(d, col("text"), col("doc_id"),
      k = 3, maxDocFreq = 100, minJaccard = 0.2)
    val jb = DedupOps.jaccardFromStats(stats, minJaccard = 0.2)
    assert(sortedRows(ja) == sortedRows(jb))
    assert(ja.count() > 0)
    val ca = DedupOps.containmentPairs(d, col("text"), col("doc_id"),
      k = 3, maxDocFreq = 100, minContainment = 0.5)
    val cb = DedupOps.containmentFromStats(stats, minContainment = 0.5)
    assert(sortedRows(ca) == sortedRows(cb))
  }

  test("banded embedding pairs at 0.2 post-filtered to 0.4 == pairs at 0.4") {
    val vecs = (0L until 40L).map { i =>
      (i, (0 until 8).map(j =>
        math.sin((i % 7 + 1) * 0.7 + j * 0.31) +
          (if (i % 2 == 0) 0.001 * i else 0.0)).toArray)
    }.toDF("vec_id", "embedding")
    val lo = DedupOps.embeddingPairsBanded(vecs, col("embedding"),
      col("vec_id"), minCosine = 0.2, dims = 8)
    val hi = DedupOps.embeddingPairsBanded(vecs, col("embedding"),
      col("vec_id"), minCosine = 0.4, dims = 8)
    assert(sortedRows(lo.where(col("cos") >= 0.4)) == sortedRows(hi))
    assert(hi.count() > 0)
  }

  test("contaminationSpans(corpusPosAgg = precomputed) == inline") {
    val d = corpus
    val probe = d.where(col("doc_id") < 1)
    val agg = DedupOps.winnowPosAgg(d, col("text"), col("doc_id"),
      k = 25, w = 4)
    val a = DedupOps.contaminationSpans(d, col("text"), col("doc_id"),
      probe, col("text"), col("doc_id"), k = 25, w = 4)
    val b = DedupOps.contaminationSpansFrom(agg, d, col("text"),
      col("doc_id"), probe, col("text"), col("doc_id"), k = 25, w = 4)
    assert(sortedRows(a) == sortedRows(b))
  }

  /** RDD ids newly persisted by `body`, then (after the caller's usual
    * release) the ids still persisted. */
  private def persistedBy(body: => org.apache.spark.sql.DataFrame)
      : (Set[Int], Set[Int]) = {
    graft.core.CacheScope.release()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val kept = body
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(kept.count() > 0)
    graft.core.CacheScope.release()
    (added, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
  }

  test("one-call dedups leave only the loser list persisted") {
    val (fuzzyAdded, fuzzyLeft) = persistedBy(
      DedupOps.fuzzyDedup(corpus, col("text"), col("doc_id")))
    assert(fuzzyAdded.size == 1, s"fuzzyDedup left $fuzzyAdded persisted")
    assert(fuzzyLeft.isEmpty)
    // near-identical vectors share a cluster (i % 7), so every cell pairs
    val vecs = (0L until 28L).map { i =>
      (i, (0 until 8).map(j => math.sin((i % 7 + 1) * 0.7 + j * 0.31) +
        0.001 * i).toArray)
    }.toDF("vec_id", "embedding")
    val clusters = vecs.select(col("vec_id"),
      (col("vec_id") % 7).as("cluster"))
    val (semAdded, semLeft) = persistedBy(
      DedupOps.semanticDedupAssigned(vecs, col("embedding"), col("vec_id"),
        clusters, minCosine = 0.9))
    assert(semAdded.size == 1, s"semanticDedupAssigned left $semAdded")
    assert(semLeft.isEmpty)
  }

  test("Layout.land builds once, books its seconds, keys names by exact dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    var builds = 0
    def land(d: String, n: Long) =
      graft.queries.Layout.land(spark, d, "spec_probe", "k") {
        builds += 1
        spark.range(n).select(col("id").as("k"))
      }
    val first = land(dir, 4)
    assert(builds == 1)
    assert(graft.queries.IndexBuilds.buildSecs
      .contains(s"layout_spec_probe@$dir"))
    val second = land(dir, 4)
    assert(builds == 1, "the second call must not re-run the build")
    assert(first.inputFiles.toSet == second.inputFiles.toSet)
    assert(sortedRows(second) == (0 until 4).map(i => s"[$i]"))
    // catalog names are case-insensitive: the md5 suffix keeps these apart
    val upper = land(dir + "/RunA", 3)
    val lower = land(dir + "/runa", 5)
    assert(builds == 3)
    assert(upper.count() == 3 && lower.count() == 5)
    assert(upper.inputFiles.toSet.intersect(lower.inputFiles.toSet).isEmpty)
  }
}
