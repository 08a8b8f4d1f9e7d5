package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import graft.streaming.StreamingOps
import TestFiles.withTempDir

/** Invariants for the round-12i surface: ingest-time streaming dedup
  * against the persisted exact index. */
class R12iSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("exactDedupStream: drops indexed content and in-stream repeats") {
    val hist = Seq((1L, "seen before"), (2L, "also seen"))
      .toDF("doc_id", "text")
    val arriving = Seq(
      (10L, "brand new"),
      (11L, "seen before"),   // in the index -> dropped
      (12L, "brand new"),     // in-stream repeat -> dropped (first wins)
      (13L, "another new")
    ).toDF("doc_id", "text")
    val idxDir = java.nio.file.Files.createTempDirectory("exidx").toString
    DedupOps.exactIndexWrite(hist, col("text"), col("doc_id"), idxDir)
    // batch expectation: not-in-index, then first-occurrence per digest
    val batchNew = DedupOps.exactNewAgainst(idxDir, arriving, col("text"),
      col("doc_id"))
    val expected = DedupOps.exactDedup(batchNew, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(expected == Set(10L, 13L))
    withTempDir("graft-eds") { dir =>
      arriving.coalesce(1).write.mode("append")
        .parquet(dir.getAbsolutePath)
      val q = StreamingOps.exactDedupStream(spark, dir.getAbsolutePath,
          arriving.schema, idxDir)
        .writeStream.format("memory").queryName("graft_eds_test")
        .outputMode("append").start()
      q.processAllAvailable()
      val streamed = spark.table("graft_eds_test")
        .select("doc_id").as[Long].collect().toSet
      q.stop()
      assert(streamed == expected)
    }
  }
}
