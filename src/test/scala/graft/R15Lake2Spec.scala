package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.LayoutOps
import TestFiles.withTempDir

/** Round-15: lake OPTIMIZE (snapshot compaction with conflict
  * detection) and manifest-level column stats (listing-level data
  * skipping) — the two maintenance faces of a streaming-fed versioned
  * lake: micro-batch appends fragment the snapshot into thousands of
  * tiny directories, and a time-ranged read should not even list the
  * directories of out-of-range commits. */
class R15Lake2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/tbl"

  private def manifestDataDirs(path: String, v: Int): Seq[String] = {
    val lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, s"_v$v.manifest")),
      java.nio.charset.StandardCharsets.UTF_8).split("\n").toSeq
    lines.filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  test("compactSnapshot rewrites a fragmented snapshot into one " +
      "directory with identical rows; old versions stay readable and " +
      "vacuum reclaims the fragments") {
    val path = tmp("r15compact")
    (0 until 4).foreach { i =>
      LayoutOps.commitAppend(
        Seq((i * 2L, s"a$i"), (i * 2L + 1L, s"b$i")).toDF("id", "payload"),
        path)
    }
    assert(LayoutOps.latestVersion(spark, path) == 3)
    assert(manifestDataDirs(path, 3).size == 4, "fragmented as expected")
    val before = LayoutOps.readVersion(spark, path, 3)
      .as[(Long, String)].collect().toSet

    val v = LayoutOps.compactSnapshot(spark, path, targetFiles = 1)
    assert(v.contains(4))
    assert(manifestDataDirs(path, 4).size == 1, "one directory after")
    assert(LayoutOps.readVersion(spark, path, 4)
      .as[(Long, String)].collect().toSet == before, "identical rows")
    // time travel below the compaction point is untouched
    assert(LayoutOps.readVersion(spark, path, 1).count() == 4)

    // dropping the pre-compaction versions reclaims all 4 fragments
    assert(LayoutOps.vacuum(spark, path, keepFrom = 4) == 4)
    assert(LayoutOps.readVersion(spark, path, 4)
      .as[(Long, String)].collect().toSet == before,
      "kept snapshot reads identically after the vacuum")
  }

  test("a commit landing after the compaction's base read wins: " +
      "compactFrom returns None, publishes nothing, and its orphan is " +
      "vacuum-swept") {
    val path = tmp("r15conflict")
    LayoutOps.commitAppend(Seq((1L, "x")).toDF("id", "payload"), path)
    LayoutOps.commitAppend(Seq((2L, "y")).toDF("id", "payload"), path)
    // compacting AS OF version 0 must lose: version 1 already exists
    assert(LayoutOps.compactFrom(spark, path, base = 0).isEmpty)
    assert(LayoutOps.latestVersion(spark, path) == 1, "nothing published")
    assert(LayoutOps.readVersion(spark, path, 1).count() == 2)
    // the stale rewrite directory is an unreferenced leftover
    assert(LayoutOps.vacuum(spark, path, keepFrom = 0) == 1)
    assert(LayoutOps.readVersion(spark, path, 1).count() == 2)
  }

  test("manifest range stats skip out-of-range directories without " +
      "changing any result; statless and all-null commits behave " +
      "conservatively") {
    val path = tmp("r15stats")
    def day(d: Long, n: Int) = (0 until n)
      .map(i => (d, d * 100L + i)).toDF("day", "v")
    LayoutOps.commitAppend(day(10L, 3), path, statsCols = Seq("day"))
    LayoutOps.commitAppend(day(20L, 3), path, statsCols = Seq("day"))
    LayoutOps.commitAppend(day(30L, 3), path, statsCols = Seq("day"))
    // a legacy commit WITHOUT stats: must always be read
    LayoutOps.commitAppend(day(40L, 2), path)
    // an all-null delta for the tracked column: skippable for ANY range
    // (a range predicate never matches null)
    LayoutOps.commitAppend(
      Seq((Option.empty[Long], 999L)).toDF("day", "v"), path,
      statsCols = Seq("day"))
    val v = LayoutOps.latestVersion(spark, path)

    val (kept, skipped) = LayoutOps.rangeDirs(spark, path, v, "day",
      15L, 25L)
    // in range: the day-20 dir; conservative: the statless day-40 dir;
    // skipped: day-10, day-30, and the all-null delta
    assert(kept.size == 2 && skipped.size == 3,
      s"kept=${kept.size} skipped=${skipped.size}")

    val got = LayoutOps.readVersionRange(spark, path, v, "day", 15L, 25L)
      .as[(Long, Long)].collect().toSet
    val want = LayoutOps.readVersion(spark, path, v)
      .where(col("day").between(15L, 25L))
      .as[(Long, Long)].collect().toSet
    assert(got == want && want.size == 3, "pruning never changes a result")

    // bounds of an unsupported kind: nothing is skipped
    val (k2, s2) = LayoutOps.rangeDirs(spark, path, v, "day",
      Seq(1), Seq(2))
    assert(k2.size == 5 && s2.isEmpty)

    // string stats compare lexicographically
    val p2 = tmp("r15strstats")
    LayoutOps.commitAppend(Seq(("apple", 1L), ("berry", 2L))
      .toDF("w", "v"), p2, statsCols = Seq("w"))
    LayoutOps.commitAppend(Seq(("melon", 3L), ("peach", 4L))
      .toDF("w", "v"), p2, statsCols = Seq("w"))
    val (k3, s3) = LayoutOps.rangeDirs(spark, p2, 1, "w", "a", "b")
    assert(k3.size == 1 && s3.size == 1)
    assert(LayoutOps.readVersionRange(spark, p2, 1, "w", "a", "b")
      .as[(String, Long)].collect().toSet == Set(("apple", 1L)))
  }

  test("a stats-recording, auto-compacting stream sink: micro-batches " +
      "land with manifest stats, fragmentation is bounded by the " +
      "maybeCompact policy, and a ranged read prunes from the manifest") {
    withTempDir("r15sink") { root =>
      val src = s"$root/src"; val lake = s"$root/lake"; val cp = s"$root/cp"
      val schema = Seq((0L, 0L)).toDF("day", "v").schema
      def feed(d: Long): Unit = Seq((d, d * 10L), (d, d * 10L + 1L))
        .toDF("day", "v").coalesce(1).write.mode("append").parquet(src)
      def run(): Unit = {
        val q = graft.streaming.StreamingOps.lakeSink(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src),
          lake, cp, statsCols = Seq("day"), autoCompactDirs = 2)
        q.processAllAvailable(); q.stop()
      }
      (1L to 5L).foreach(feed)
      run()
      val v = LayoutOps.latestVersion(spark, lake)
      // 5 single-file micro-batches, compaction after each breach of 2
      // dirs: the final snapshot must hold all 10 rows in <= 3 dirs
      assert(LayoutOps.readVersion(spark, lake, v).count() == 10)
      assert(manifestDataDirs(lake, v).size <= 3,
        s"fragmentation unbounded: ${manifestDataDirs(lake, v).size} dirs")
      // replay restart: nothing new → no extra version, no compaction
      run()
      assert(LayoutOps.latestVersion(spark, lake) == v)
      // a later-day batch arrives: compaction re-recorded stats over the
      // merged directory, so a day-9 range read skips the whole
      // compacted history from the manifest alone
      feed(9L)
      run()
      val v2 = LayoutOps.latestVersion(spark, lake)
      val (_, skipped) = LayoutOps.rangeDirs(spark, lake, v2, "day",
        9L, 9L)
      assert(skipped.nonEmpty, "stats must survive the compaction cycle")
      assert(LayoutOps.readVersionRange(spark, lake, v2, "day", 9L, 9L)
        .as[(Long, Long)].collect().toSet == Set((9L, 90L), (9L, 91L)))
      // and the inverse range skips the fresh day-9 directory
      assert(LayoutOps.rangeDirs(spark, lake, v2, "day", 1L, 5L)
        ._2.nonEmpty)
      assert(LayoutOps.readVersionRange(spark, lake, v2, "day", 1L, 5L)
        .count() == 10)
    }
  }

  test("sorted compaction re-clusters the snapshot on the sort column " +
      "with identical rows") {
    val path = tmp("r15sorted")
    // interleaved arrival: each append spans the whole day range
    LayoutOps.commitAppend(Seq((10L, 1L), (30L, 2L)).toDF("day", "v"),
      path, statsCols = Seq("day"))
    LayoutOps.commitAppend(Seq((20L, 3L), (40L, 4L)).toDF("day", "v"),
      path, statsCols = Seq("day"))
    val before = LayoutOps.readVersion(spark, path, 1)
      .as[(Long, Long)].collect().toSet
    val v = LayoutOps.compactSnapshot(spark, path, targetFiles = 2,
      statsCols = Seq("day"), sortCol = Some("day"))
    assert(v.contains(2))
    assert(LayoutOps.readVersion(spark, path, 2)
      .as[(Long, Long)].collect().toSet == before)
    // range-partitioned files: each parquet file covers a narrow day
    // band, so per-file footer min/max are disjoint — verify via the
    // files' own stats through a per-file read
    val dir = manifestDataDirs(path, 2).head
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length == 2)
    val ranges = files.map { f =>
      val d = spark.read.parquet(f.getAbsolutePath)
        .agg(min("day"), max("day")).as[(Long, Long)].collect().head
      d
    }
    assert(ranges.forall { case (lo, hi) => lo <= hi })
    val sorted = ranges.sortBy(_._1)
    assert(sorted(0)._2 <= sorted(1)._1,
      s"files must cover disjoint day bands, got ${ranges.toSeq}")
  }

  test("stats survive being carried across later appends and a " +
      "stats-recording compaction re-establishes them over the merged " +
      "directory") {
    val path = tmp("r15carry")
    LayoutOps.commitAppend(Seq((10L, 1L)).toDF("day", "v"), path,
      statsCols = Seq("day"))
    LayoutOps.commitAppend(Seq((30L, 2L)).toDF("day", "v"), path,
      statsCols = Seq("day"))
    // the v0 dir's stats line was carried into the v1 manifest: a range
    // query against v1 can still skip the day-10 dir
    val (k1, s1) = LayoutOps.rangeDirs(spark, path, 1, "day", 25L, 35L)
    assert(k1.size == 1 && s1.size == 1, "carried stats still prune")

    val v = LayoutOps.compactSnapshot(spark, path, targetFiles = 1,
      statsCols = Seq("day"))
    assert(v.contains(2))
    // the compacted dir spans 10..30: inside-range queries read it,
    // outside-range queries skip the WHOLE snapshot
    assert(LayoutOps.rangeDirs(spark, path, 2, "day", 25L, 35L)
      ._1.size == 1)
    val (k2, s2) = LayoutOps.rangeDirs(spark, path, 2, "day", 40L, 50L)
    assert(k2.isEmpty && s2.size == 1)
    assert(LayoutOps.readVersionRange(spark, path, 2, "day", 40L, 50L)
      .count() == 0)
  }
}
