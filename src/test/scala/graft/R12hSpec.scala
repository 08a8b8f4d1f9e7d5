package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import graft.streaming.StreamingOps
import TestFiles.{ts, withTempDir}

/** Invariants for the round-12h surface: streaming funnel and the
  * compaction contract. */
class R12hSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("funnelStream == batch funnelStages on ordered arrival") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:01"), 1L, "signup"),
      (1L, ts("2024-01-01 00:00:02"), 2L, "view"),
      (1L, ts("2024-01-01 00:00:03"), 3L, "purchase"),
      (2L, ts("2024-01-01 00:00:01"), 4L, "view"),   // out of order: no stage
      (2L, ts("2024-01-01 00:00:02"), 5L, "signup"),
      (3L, ts("2024-01-01 00:00:05"), 6L, "signup")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val steps = Seq("signup", "view", "purchase")
    val batch = EventOps.funnelStages(ev, col("user_id"), col("ts"),
        col("event_id"), col("event_type"), steps)
      .as[(Long, Int)].collect().toMap
    assert(batch == Map(1L -> 3, 2L -> 1, 3L -> 1))
    withTempDir("graft-fstr") { dir =>
      ev.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val q = StreamingOps.funnelStream(spark, dir.getAbsolutePath,
          ev.schema, steps)
        .writeStream.format("memory").queryName("graft_fstr_test")
        .outputMode("update").start()
      q.processAllAvailable()
      val streamed = spark.table("graft_fstr_test")
        .as[(Long, Int)].collect().toMap
      q.stop()
      assert(streamed == batch)
    }
  }

  test("compactWrite lands exactly nFiles and loses no rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cmp").toString
    val df = (1L to 1000L).toDF("id")
    LayoutOps.compactWrite(df, nFiles = 4, dir)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length == 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000L)
    assert(back.agg(sum("id")).head().getLong(0) == 500500L)
  }
}
