package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps
import TestFiles.{rm, ts, withTempDir}

/** Invariants for the round-12an surface: left-outer attribution stream
  * and the rollup-maintenance sink. */
class R12anSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("attributionStreamOuter emits orphans once the watermark passes") {
    withTempDir("graft-attro") { dir =>
      val batch1 = Seq(
        (1L, ts("2024-01-01 10:30:00"), 1L, "click", 0.0),
        (1L, ts("2024-01-01 11:00:00"), 2L, "purchase", 9.0),  // attributed
        (2L, ts("2024-01-01 11:00:00"), 3L, "purchase", 5.0)   // orphan
      ).toDF("user_id", "ts", "event_id", "event_type", "value")
      batch1.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.attributionStreamOuter(spark,
          dir.getAbsolutePath, batch1.schema, windowMs = 3600000L)
        .writeStream.format("memory").queryName("graft_attro_test")
        .outputMode("append").start()
      q.processAllAvailable()
      // push the watermark far past batch1's join windows; the watermark
      // computed at a batch's END applies to the NEXT batch, and state
      // eviction (which emits the finalized nulls) needs further batches —
      // feed late batches until the orphan lands (bounded attempts)
      var attempt = 0
      def table() = spark.table("graft_attro_test")
        .select("purchase_id", "click_id")
        .as[(Long, Option[Long])].collect().toSet
      // the watermark operators sit AFTER the type filters, so BOTH
      // branches need late events — a click alone leaves the purchase
      // watermark (and with it the min global watermark) at batch1's time
      while (attempt < 6 && !table().contains((3L, None))) {
        attempt += 1
        Seq((9L, ts(s"2024-01-02 1$attempt:00:00"), 90L + attempt, "click", 0.0),
          (9L, ts(s"2024-01-02 1$attempt:00:01"), 80L + attempt, "purchase", 1.0))
          .toDF("user_id", "ts", "event_id", "event_type", "value")
          .coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
        q.processAllAvailable()
      }
      val got = table()
      q.stop()
      assert(got.contains((2L, Some(1L))))   // matched pair
      assert(got.contains((3L, None)))       // orphan finalized as null
    }
  }

  test("rollupSink maintains the additive rollup across micro-batches") {
    val src = java.nio.file.Files.createTempDirectory("graft-rsink").toFile
    val tgt = java.nio.file.Files.createTempDirectory("graft-rtgt2").toFile
    val ck = java.nio.file.Files.createTempDirectory("graft-rck2").toFile
    val target = tgt.getAbsolutePath + "/rollup"
    try {
      Seq(("a", 1L, 10L), ("a", 1L, 5L), ("b", 2L, 1L))
        .toDF("k", "d", "v")
        .coalesce(1).write.mode("append").parquet(src.getAbsolutePath)
      val schema = spark.read.parquet(src.getAbsolutePath).schema
      val q = StreamingOps.rollupSink(
        spark.readStream.schema(schema).parquet(src.getAbsolutePath),
        keys = Seq("k", "d"), sumCols = Seq("v"),
        target, ck.getAbsolutePath)
      q.processAllAvailable()
      Seq(("a", 1L, 100L), ("c", 3L, 7L)).toDF("k", "d", "v")
        .coalesce(1).write.mode("append").parquet(src.getAbsolutePath)
      q.processAllAvailable()
      q.stop()
      val got = spark.read.parquet(target)
        .as[(String, Long, Long)].collect().toSet
      // merged rollup == direct rollup of everything seen
      assert(got == Set(("a", 1L, 115L), ("b", 2L, 1L), ("c", 3L, 7L)))
    } finally { rm(src); rm(tgt); rm(ck) }
  }
}
