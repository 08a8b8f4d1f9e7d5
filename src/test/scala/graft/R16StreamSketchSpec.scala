package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SketchOps
import TestFiles.withTempDir

/** The sketch tier's streaming twin: [[SketchOps.cmsSketch]] and
  * [[SketchOps.hdrHistogram]] are single map-side-combined aggregations,
  * so the SAME function runs on a readStream in complete mode — bounded
  * state (the grid / bucket table) by construction.  Mergeability is what
  * makes the mid-stream answer exact: after every micro-batch the state
  * equals the batch sketch of everything seen.  Spec-proven bit-equal to
  * the batch twin across two arrival waves (the repo's stream-twin
  * discipline; both ops' batch forms are oracle-gated). */
class R16StreamSketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cmsSketch over a file stream == batch sketch of all arrivals") {
    val w1 = Seq("a", "b", "a", "c").toDF("tok")
    val w2 = Seq("b", "b", "d").toDF("tok")
    withTempDir("graft-cms-s") { dir =>
      w1.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val src = spark.readStream.schema(w1.schema)
        .parquet(dir.getAbsolutePath)
      val q = SketchOps.cmsSketch(src, col("tok"), depth = 4, width = 16)
        .writeStream.format("memory").queryName("graft_cms_stream")
        .outputMode("complete").start()
      q.processAllAvailable()
      val mid = spark.table("graft_cms_stream")
        .as[(Int, Long, Long)].collect().toSet
      val batch1 = SketchOps.cmsSketch(w1, col("tok"), 4, 16)
        .as[(Int, Long, Long)].collect().toSet
      assert(mid == batch1, "mid-stream state must equal the batch sketch")
      w2.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      q.processAllAvailable()
      val fin = spark.table("graft_cms_stream")
        .as[(Int, Long, Long)].collect().toSet
      q.stop()
      val batchAll = SketchOps.cmsSketch(w1.union(w2), col("tok"), 4, 16)
        .as[(Int, Long, Long)].collect().toSet
      assert(fin == batchAll)
    }
  }

  test("hdrHistogram over a file stream == batch histogram of arrivals") {
    val w1 = Seq(3L, 100L, 9999L).toDF("v")
    val w2 = Seq(3L, 100000L).toDF("v")
    withTempDir("graft-hdr-s") { dir =>
      w1.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      val src = spark.readStream.schema(w1.schema)
        .parquet(dir.getAbsolutePath)
      val q = SketchOps.hdrHistogram(src, col("v"), subBits = 4)
        .writeStream.format("memory").queryName("graft_hdr_stream")
        .outputMode("complete").start()
      q.processAllAvailable()
      w2.coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
      q.processAllAvailable()
      val fin = spark.table("graft_hdr_stream")
        .as[(Long, Long, Long, Long)].collect().toSet
      q.stop()
      val batchAll = SketchOps.hdrHistogram(w1.union(w2), col("v"), 4)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(fin == batchAll)
    }
  }
}
