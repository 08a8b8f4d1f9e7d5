package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.MlOps

/** kHopReachAuto discipline for the codebook: [[MlOps.kmeansFitResident]]
  * (no k×d driver collect anywhere) must be BIT-EQUAL to
  * [[MlOps.kmeansFitRouted]] in its distributed-init regime — same init,
  * same routed assignment, same micro-unit integer updates, same
  * empty-cluster carry — so routing on codebook size (kmeansFitAuto)
  * can never change an answer, only the plan. */
class R16ResidentKmeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic synthetic vectors: 4 planted clusters + noise
  private def vecs(n: Int, d: Int): org.apache.spark.sql.DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(d - 1)), j =>
        (pmod(col("id"), lit(4)) * 100).cast("double") +
          pmod(col("id") * 31 + j * 17, lit(13)).cast("double"))
        .as("v"))

  test("resident == routed (distributed-init regime), centers AND " +
      "assignment bit-equal") {
    val data = vecs(240, 6)
    val k = 8
    // maxDriverRows = 2k-1 forces routed into the distributed-init branch
    // (k > maxDriverRows/2) — the regime the resident path mirrors
    val (rc, ra) = MlOps.kmeansFitRouted(data, col("v"), col("vec_id"),
      k, seed = 7L, maxDriverRows = 2L * k - 1, refineIters = 2, probe = 3)
    val (cc, ca) = MlOps.kmeansFitResident(data, col("v"), col("vec_id"),
      k, seed = 7L, refineIters = 2, probe = 3)
    val resident = cc.select(col("centroid_id"), col("cv"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(resident.size == k)
    rc.zipWithIndex.foreach { case (v, i) =>
      assert(resident(i.toLong) == v.toSeq,
        s"centroid $i differs: routed ${v.toSeq} vs ${resident(i.toLong)}")
    }
    val ram = ra.as[(Long, Long)].collect().toMap
    val cam = ca.as[(Long, Long)].collect().toMap
    assert(ram == cam, "assignments differ")
    graft.core.CacheScope.release()
  }

  test("resident: ragged vectors are rejected up front") {
    val ragged = Seq((0L, Seq(1.0, 2.0)), (1L, Seq(3.0)), (2L, Seq(4.0, 5.0)))
      .toDF("vec_id", "v")
    val e = intercept[IllegalArgumentException] {
      MlOps.kmeansFitResident(ragged, col("v"), col("vec_id"), 2, seed = 7L)
    }
    assert(e.getMessage.contains("min dimension 1") &&
      e.getMessage.contains("max dimension 2"), e.getMessage)
  }

  test("resident: empty clusters carry their previous center") {
    // 5 points, k=4, one refine: some init centers attract no points
    // after the means move; the left-join fallback must keep them
    val data = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(0.1, 0.0)), (2L, Seq(0.2, 0.0)),
      (3L, Seq(100.0, 0.0)), (4L, Seq(100.1, 0.0)))
      .toDF("vec_id", "v")
    val (cc, ca) = MlOps.kmeansFitResident(data, col("v"), col("vec_id"),
      k = 4, seed = 3L, refineIters = 2, probe = 2)
    assert(cc.count() == 4, "a starved cluster must not vanish")
    // every vector still assigned exactly once
    assert(ca.count() == 5 &&
      ca.select("vec_id").distinct().count() == 5)
    graft.core.CacheScope.release()
  }

  test("resident is partitioning-immune and collect-free by construction") {
    val a = MlOps.kmeansFitResident(vecs(120, 4), col("v"),
      col("vec_id"), k = 6, seed = 11L, refineIters = 2, probe = 2)
    val b = MlOps.kmeansFitResident(vecs(120, 4).repartition(17),
      col("v"), col("vec_id"), k = 6, seed = 11L, refineIters = 2,
      probe = 2)
    val ca = a._1.as[(Long, Seq[Double])].collect().toMap
    val cb = b._1.as[(Long, Seq[Double])].collect().toMap
    assert(ca == cb, "centroids must not depend on input partitioning")
    graft.core.CacheScope.release()
  }

  test("auto routes on codebook size without changing the answer") {
    val data = vecs(240, 6)
    val k = 8
    // gate below k·d forces the resident side; a huge gate the routed side
    val (below, _) = MlOps.kmeansFitAuto(data, col("v"), col("vec_id"),
      k, seed = 7L, maxDriverRows = 2L * k - 1, refineIters = 2,
      probe = 3, codebookGate = k.toLong * 6 - 1)
    val (above, _) = MlOps.kmeansFitAuto(data, col("v"), col("vec_id"),
      k, seed = 7L, maxDriverRows = 2L * k - 1, refineIters = 2,
      probe = 3, codebookGate = Long.MaxValue)
    assert(below.as[(Long, Seq[Double])].collect().toMap ==
      above.as[(Long, Seq[Double])].collect().toMap)
    graft.core.CacheScope.release()
  }

  test("probe: a wide codebook (k=400, d=16, n=4000) refines through the " +
      "resident path with O(1) driver state") {
    val data = vecs(4000, 16)
    val (cc, ca) = MlOps.kmeansFitResident(data, col("v"), col("vec_id"),
      k = 400, seed = 5L, refineIters = 1, probe = 3)
    assert(cc.count() == 400)
    assert(ca.count() == 4000)
    graft.core.CacheScope.release()
  }
}
