package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{EventOps, LayoutOps}
import graft.streaming.StreamingOps
import scala.jdk.CollectionConverters._
import TestFiles.withTempDir

/** Round-14 hardening of the native as-of join's declared physical
  * properties and the lake sink's exactly-once commit. */
class R14Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // a non-nullable fixture (long keys/ts built from tuple columns) so the
  // wrapper plans the bare AsOfJoin node with no null branch
  private def fixture() = {
    // left_id runs OPPOSITE to (k, ts): id 30 carries the smallest key —
    // an ordering-on-left_id requirement is NOT satisfied by the join's
    // emit order, so an elided downstream Sort would be observable
    val left = Seq((30L, 1L, 100L), (20L, 2L, 100L), (10L, 3L, 100L),
        (25L, 1L, 200L), (15L, 3L, 50L))
      .toDF("event_id", "user_id", "tsl")
    val right = Seq((7L, 1L, 90L, 1.5), (8L, 2L, 60L, 2.5),
        (9L, 3L, 70L, 3.5))
      .toDF("event_id", "user_id", "tsl", "value")
    (left, right)
  }

  private def nativeJoin(left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame) =
    EventOps.asofJoinNative(left, col("event_id"), col("user_id"),
      timestamp_micros(col("tsl")), right, col("event_id"), col("user_id"),
      timestamp_micros(col("tsl")), col("value"))

  test("AsOfJoinExec declares its TRUE output ordering (k, ts, left_id): " +
      "a downstream sortWithinPartitions(left_id) is honored, not elided") {
    val (left, right) = fixture()
    val sorted = nativeJoin(left, right)
      .repartition(1, col("k"))
      .sortWithinPartitions("left_id")
    val ids = sorted.select("left_id").as[Long].collect().toSeq
    assert(ids == ids.sorted,
      s"rows must come out sorted by left_id, got $ids")
    // and the exec's declared ordering leads with the key column, not
    // the first output column
    val exec = sorted.queryExecution.executedPlan.collectFirst {
      case e: graft.plans.AsOfJoinExec => e }
    exec.foreach { e =>
      assert(e.outputOrdering.head.child.asInstanceOf[
        org.apache.spark.sql.catalyst.expressions.Attribute].name == "k")
    }
  }

  test("AsOfJoinExec re-exposes hash partitioning on the OUTPUT k " +
      "attribute: a chained groupBy(k) adds no exchange above the join") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (left, right) = fixture()
      val agg = nativeJoin(left, right).groupBy("k")
        .agg(count(lit(1)).as("n"), max("matched_value").as("mx"))
      val plan = agg.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size == 2,
        s"expected only the join's two child shuffles, got ${exchanges.size}:\n$plan")
      // the partitioning the exec advertises references ITS OWN output
      val exec = plan.collectFirst { case e: graft.plans.AsOfJoinExec => e }.get
      val outIds = exec.output.map(_.exprId).toSet
      val partRefs = exec.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.references.toSeq
        case _ => fail("expected HashPartitioning from the left child")
      }
      assert(partRefs.forall(a => outIds.contains(a.exprId)),
        "outputPartitioning must be expressed in output attributes")
      // and the aggregation result is still correct
      val m = agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("asofJoinNative null semantics: null-keyed/null-ts left rows emit " +
      "unmatched; null right rows never match") {
    // java.lang.Long columns are nullable → the wrapper takes the guarded
    // path
    def jl(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    val left = Seq(
      (jl(1L), jl(10L), jl(100L)),
      (jl(2L), null.asInstanceOf[java.lang.Long], jl(100L)), // null key
      (jl(3L), jl(10L), null.asInstanceOf[java.lang.Long]),  // null ts
      (jl(4L), jl(20L), jl(100L)))
      .toDF("event_id", "user_id", "tsl")
    val right = Seq(
      (jl(7L), jl(10L), jl(90L), 1.5),
      (jl(8L), null.asInstanceOf[java.lang.Long], jl(60L), 2.5), // null key
      (jl(9L), jl(20L), null.asInstanceOf[java.lang.Long], 3.5)) // null ts
      .toDF("event_id", "user_id", "tsl", "value")
    val out = EventOps.asofJoinNative(left, col("event_id"),
      col("user_id"), timestamp_micros(col("tsl")), right, col("event_id"),
      col("user_id"), timestamp_micros(col("tsl")), col("value"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(out.size == 4, "one row per left row, null-keyed included")
    assert(out(1L) == 7L, "valid row matches the valid right row")
    assert(out(2L) == -1L, "null-key left row emits unmatched")
    assert(out(3L) == -1L, "null-ts left row emits unmatched")
    assert(out(4L) == -1L,
      "null-ts right row for key 20 must not match (dropped)")
  }

  test("toBatchesPrefetched yields batches identical in order and content " +
      "to toBatches, and overlaps fetch with consumption") {
    import graft.core._
    val base = spark.range(20000L).toDF("k")
      .withColumn("label", pmod(col("k"), lit(3)))
    val sc = ScCollection.fromDataFrame(base, col("k"))
    val ds = ScDataset(sc, BlockShuffling(blockSize = 256), batchSize = 500,
      fetchFactor = 2, seed = 42L)
    val plain = ds.toBatches(0, Seq("k")).map(_.toString).toVector
    val pre = ds.toBatchesPrefetched(0, Seq("k")).map(_.toString).toVector
    assert(pre == plain, "prefetched stream must be batch-for-batch equal")
    // overlap: with a slow consumer (25 ms/batch), the producer works
    // ahead during the sleeps, so nearly every next() returns instantly
    // instead of paying a fetch stall at partition boundaries
    val it = ds.toBatchesPrefetched(0, Seq("k"), prefetch = 4)
    var slow = 0; var n = 0
    while (it.hasNext) {
      val t0 = System.nanoTime()
      it.next()
      if ((System.nanoTime() - t0) / 1e6 > 10.0) slow += 1
      n += 1
      Thread.sleep(25)
    }
    assert(n == plain.size)
    // the first next() legitimately waits for the first batch; beyond
    // that, stalls mean the producer is NOT running ahead
    assert(slow <= math.max(2, n / 5),
      s"$slow of $n nexts stalled >10ms — prefetch is not overlapping")
    // early abandonment: close() releases the parked producer instead of
    // leaking it (and its buffered batches) for the JVM's lifetime
    val it2 = ds.toBatchesPrefetched(0, Seq("k"), prefetch = 2)
    assert(it2.hasNext); it2.next()
    it2.close()
    val deadline = System.nanoTime() + 5000000000L
    def producerAlive() = Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName == "graft-batch-prefetch" && t.isAlive)
    while (producerAlive() && System.nanoTime() < deadline) Thread.sleep(50)
    assert(!producerAlive(), "producer must terminate after close()")
    graft.core.CacheScope.release()
  }

  test("commitBatchIdempotent survives a crash AFTER the commit with no " +
      "separate-marker window: the batch id lives in the manifest itself") {
    withTempDir("graft-lake4") { root =>
      val lake = s"$root/lake"
      val b = Seq((1L, "a")).toDF("id", "v")
      // simulate: commitAppend landed (manifest written, txn recorded)
      // and the process died immediately — under the old marker-file
      // design this is the duplicate window
      LayoutOps.commitAppend(b, lake, txn = Some("batch5"))
      assert(LayoutOps.txnCommitted(spark, lake, "batch5"))
      // the foreachBatch replay after restart must be a no-op
      StreamingOps.commitBatchIdempotent(b, 5L, lake)
      assert(LayoutOps.latestVersion(spark, lake) == 0)
      assert(LayoutOps.readVersion(spark, lake, 0).count() == 1)
      // txn header lines are invisible to readers and to vacuum
      StreamingOps.commitBatchIdempotent(b, 6L, lake)
      assert(LayoutOps.readVersion(spark, lake, 1).count() == 2)
      LayoutOps.vacuum(spark, lake, keepFrom = 1)
      assert(LayoutOps.readVersion(spark, lake, 1).count() == 2)
    }
  }

  test("vacuum carries txn markers of dropped manifests forward: a replay " +
      "of a vacuumed batch stays a no-op") {
    withTempDir("graft-lake5") { root =>
      val lake = s"$root/lake"
      val b = Seq((1L, "a")).toDF("id", "v")
      (0L to 2L).foreach(StreamingOps.commitBatchIdempotent(b, _, lake))
      assert(LayoutOps.latestVersion(spark, lake) == 2)
      LayoutOps.vacuum(spark, lake, keepFrom = 2)
      // batches 0 and 1's manifests are gone, but their commit history
      // must survive — folded into a new version (3) committed BEFORE
      // any deletion, so a restart from an old checkpoint replays safely
      assert(LayoutOps.latestVersion(spark, lake) == 3,
        "vacuum commits a txn-fold version")
      assert(LayoutOps.txnCommitted(spark, lake, "batch0"))
      assert(LayoutOps.txnCommitted(spark, lake, "batch1"))
      StreamingOps.commitBatchIdempotent(b, 0L, lake) // replay after vacuum
      assert(LayoutOps.latestVersion(spark, lake) == 3,
        "vacuumed batch must not re-commit")
      // and both surviving snapshots still read correctly
      assert(LayoutOps.readVersion(spark, lake, 2).count() == 3)
      assert(LayoutOps.readVersion(spark, lake, 3).count() == 3)
    }
  }
}
