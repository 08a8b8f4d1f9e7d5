package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.LayoutOps
import TestFiles.withTempDir

/** Invariants for the round-12al surface: versioned-lake time travel. */
class R12alSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("append/overwrite commits; every old snapshot stays readable") {
    withTempDir("graft-tt") { dir =>
      val p = dir.getAbsolutePath + "/table"
      assert(LayoutOps.latestVersion(spark, p) == -1)
      assert(LayoutOps.commitAppend(Seq(1L, 2L).toDF("id"), p) == 0)
      assert(LayoutOps.commitAppend(Seq(3L).toDF("id"), p) == 1)
      assert(LayoutOps.commitOverwrite(Seq(9L).toDF("id"), p) == 2)
      assert(LayoutOps.latestVersion(spark, p) == 2)
      def read(v: Int) = LayoutOps.readVersion(spark, p, v)
        .as[Long].collect().toSet
      assert(read(0) == Set(1L, 2L))
      assert(read(1) == Set(1L, 2L, 3L))   // append carried v0 forward
      assert(read(2) == Set(9L))           // overwrite started fresh
      // v1 still intact AFTER the overwrite — no file was rewritten
      assert(read(1) == Set(1L, 2L, 3L))
    }
  }

  test("vacuum reclaims only unreferenced files; kept snapshots intact") {
    withTempDir("graft-vac") { dir =>
      val p = dir.getAbsolutePath + "/table"
      LayoutOps.commitAppend(Seq(1L, 2L).toDF("id"), p)      // v0
      LayoutOps.commitOverwrite(Seq(9L).toDF("id"), p)       // v1 (fresh)
      LayoutOps.commitAppend(Seq(10L).toDF("id"), p)         // v2 = v1+delta
      // keep v1+: v0's files are referenced by NOTHING kept → reclaimed
      val n = LayoutOps.vacuum(spark, p, keepFrom = 1)
      assert(n == 1)                                          // files/v0 gone
      assert(LayoutOps.readVersion(spark, p, 1)
        .as[Long].collect().toSet == Set(9L))
      assert(LayoutOps.readVersion(spark, p, 2)
        .as[Long].collect().toSet == Set(9L, 10L))
      // dropped version is no longer readable
      intercept[Exception] { LayoutOps.readVersion(spark, p, 0).collect() }
      // vacuum keeping everything deletes nothing
      assert(LayoutOps.vacuum(spark, p, keepFrom = 1) == 0)
    }
  }

  test("vacuum never reclaims files shared into kept versions") {
    withTempDir("graft-vac2") { dir =>
      val p = dir.getAbsolutePath + "/table"
      LayoutOps.commitAppend(Seq(1L).toDF("id"), p)          // v0
      LayoutOps.commitAppend(Seq(2L).toDF("id"), p)          // v1 carries v0
      val n = LayoutOps.vacuum(spark, p, keepFrom = 1)
      assert(n == 0)  // v0's files live on inside v1's manifest
      assert(LayoutOps.readVersion(spark, p, 1)
        .as[Long].collect().toSet == Set(1L, 2L))
    }
  }

  test("append commit writes only the delta's files") {
    withTempDir("graft-ttd") { dir =>
      val p = dir.getAbsolutePath + "/table"
      LayoutOps.commitAppend((1L to 100L).toDF("id"), p)
      // v0's data directory as the manifest records it (directory names
      // are writer-unique; manifests are the only name authority)
      val v0dir = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p, "_v0.manifest")),
        java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").filter(l => l.nonEmpty && !l.startsWith("#")).head
      val before = java.nio.file.Files.walk(
        java.nio.file.Paths.get(v0dir)).count()
      LayoutOps.commitAppend(Seq(101L).toDF("id"), p)
      val after = java.nio.file.Files.walk(
        java.nio.file.Paths.get(v0dir)).count()
      assert(before == after)  // v0's files untouched by the v1 commit
      assert(LayoutOps.readVersion(spark, p, 1).count() == 101L)
    }
  }
}
