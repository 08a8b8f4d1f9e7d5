package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.LayoutOps
import graft.streaming.StreamingOps
import TestFiles.withTempDir

/** The streaming lake sink: one micro-batch = one version, replays are
  * no-ops, every snapshot stays readable. */
class R13fSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("lakeSink commits one version per micro-batch and time travel " +
      "sees each snapshot") {
    withTempDir("graft-lake") { root =>
      val src = s"$root/src"; val lake = s"$root/lake"; val cp = s"$root/cp"
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(src)
      val schema = spark.read.parquet(src).schema
      def run(): Unit = {
        val q = StreamingOps.lakeSink(
          spark.readStream.schema(schema).parquet(src), lake, cp)
        q.processAllAvailable(); q.stop()
      }
      run()
      assert(LayoutOps.latestVersion(spark, lake) == 0)
      Seq((3L, "c")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(src)
      run()
      assert(LayoutOps.latestVersion(spark, lake) == 1)
      assert(LayoutOps.readVersion(spark, lake, 0).count() == 2)
      assert(LayoutOps.readVersion(spark, lake, 1).count() == 3)
      // restart with nothing new: the checkpoint replays nothing
      run()
      assert(LayoutOps.latestVersion(spark, lake) == 1)
    }
  }

  test("commitBatchIdempotent: replaying the same batch id is a no-op") {
    withTempDir("graft-lake2") { root =>
      val lake = s"$root/lake"
      val b = Seq((1L, "a")).toDF("id", "v")
      StreamingOps.commitBatchIdempotent(b, 7L, lake)
      StreamingOps.commitBatchIdempotent(b, 7L, lake) // replay
      assert(LayoutOps.latestVersion(spark, lake) == 0)
      assert(LayoutOps.readVersion(spark, lake, 0).count() == 1)
      StreamingOps.commitBatchIdempotent(b, 8L, lake) // a NEW batch lands
      assert(LayoutOps.latestVersion(spark, lake) == 1)
      assert(LayoutOps.readVersion(spark, lake, 1).count() == 2)
    }
  }

  test("a crash-orphaned data dir neither blocks nor pollutes a batch " +
      "retry: writer-unique names make it invisible until vacuumed") {
    withTempDir("graft-lake3") { root =>
      val lake = s"$root/lake"
      val b = Seq((1L, "a")).toDF("id", "v")
      StreamingOps.commitBatchIdempotent(b, 0L, lake)
      // simulate a crash AFTER a data write but BEFORE its manifest —
      // under writer-unique naming the leftover occupies no version slot
      Seq((9L, "junk")).toDF("id", "v")
        .write.parquet(s"$lake/files/v1-deadbeef")
      StreamingOps.commitBatchIdempotent(b, 1L, lake)
      assert(LayoutOps.latestVersion(spark, lake) == 1)
      // the orphan's junk row must NOT appear in the committed snapshot
      assert(LayoutOps.readVersion(spark, lake, 1)
        .where(col("id") === 9L).count() == 0)
      // and vacuum's disk sweep reclaims exactly the orphan
      assert(LayoutOps.vacuum(spark, lake, keepFrom = 0) == 1)
      assert(!new java.io.File(s"$lake/files/v1-deadbeef").exists)
      assert(LayoutOps.readVersion(spark, lake, 1).count() == 2)
    }
  }
}
