package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import graft.streaming.StreamingOps
import TestFiles.rm

/** Invariants for the round-12ah surface: DP release and the streaming
  * upsert sink (incl. checkpoint recovery). */
class R12ahSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("dpNoisyCounts: deterministic per seed, bounded, seed-sensitive") {
    val df = (1 to 300).map(i => s"g${i % 3}").toDF("g")
    def run(seed: Long) =
      PiiOps.dpNoisyCounts(df, col("g"), epsilon = 0.5, seed)
        .as[(String, Double)].collect().toMap
    val a = run(42L)
    assert(a == run(42L))                      // reproducible
    assert(a != run(43L))                      // seed actually feeds noise
    a.values.foreach(v => assert(math.abs(v - 100.0) < 50.0))  // b·ln bound
    assert(a.values.exists(v => v != 100.0))   // noise is really added
  }

  test("upsertSink merges micro-batches into a parquet lake") {
    val src = java.nio.file.Files.createTempDirectory("graft-usrc").toFile
    val tgt = java.nio.file.Files.createTempDirectory("graft-utgt").toFile
    val ck = java.nio.file.Files.createTempDirectory("graft-uck").toFile
    val target = tgt.getAbsolutePath + "/table"
    try {
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(src.getAbsolutePath)
      val schema = spark.read.parquet(src.getAbsolutePath).schema
      val q = StreamingOps.upsertSink(
        spark.readStream.schema(schema).parquet(src.getAbsolutePath),
        "k", target, ck.getAbsolutePath)
      q.processAllAvailable()
      Seq((2L, "B2"), (4L, "d")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(src.getAbsolutePath)
      q.processAllAvailable()
      q.stop()
      val got = spark.read.parquet(target).as[(Long, String)].collect().toMap
      assert(got == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
    } finally { rm(src); rm(tgt); rm(ck) }
  }

  test("upsertSink checkpoint survives restart: no reprocess, state kept") {
    val src = java.nio.file.Files.createTempDirectory("graft-rsrc").toFile
    val tgt = java.nio.file.Files.createTempDirectory("graft-rtgt").toFile
    val ck = java.nio.file.Files.createTempDirectory("graft-rck").toFile
    val target = tgt.getAbsolutePath + "/table"
    try {
      Seq((1L, "a")).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(src.getAbsolutePath)
      val schema = spark.read.parquet(src.getAbsolutePath).schema
      def start() = StreamingOps.upsertSink(
        spark.readStream.schema(schema).parquet(src.getAbsolutePath),
        "k", target, ck.getAbsolutePath)
      val q1 = start()
      q1.processAllAvailable(); q1.stop()
      // new data arrives while the query is DOWN
      Seq((1L, "a2"), (2L, "b")).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(src.getAbsolutePath)
      val q2 = start()
      q2.processAllAvailable(); q2.stop()
      val got = spark.read.parquet(target).as[(Long, String)].collect().toMap
      assert(got == Map(1L -> "a2", 2L -> "b"))
    } finally { rm(src); rm(tgt); rm(ck) }
  }
}
