package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.LayoutOps
import TestFiles.ts

/** The versioned lake's shared rules, pinned: the manifest bytes each
  * commit kind writes, `rangeDirs`' (kept, skipped) split over every
  * stats kind and bound type, and the one footer rule every snapshot
  * reader resolves its columns by. */
class LakeRulesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String) =
    Files.createTempDirectory(tag).toString + "/tbl"

  private def manifestText(path: String, v: Int): String =
    new String(Files.readAllBytes(Paths.get(path, s"_v$v.manifest")), UTF_8)

  /** Four commits over a column of every stats kind (c3 without stats):
    *  - `id` Long 10k..10k+9, `i` Int 10k..10k+9
    *  - `s` "a*", "h*", "p*", "z*"
    *  - `u` U+E000, U+1F600, "z", "z"
    *  - `ts`/`d` one day each in January, February, March, April 2024
    *  - `x` Double 10k+0.5.., null throughout c2 (kind `none`)
    * and a hand-written v4 whose c0 `id` stats are unparseable. */
  private lazy val census: String = {
    val path = tmp("lakecensus")
    val u = Seq("\uE000", "😀", "z", "z")
    val pre = Seq("a", "h", "p", "z")
    val cols = Seq("id", "i", "s", "u", "ts", "d", "x")
    (0 until 4).foreach { k =>
      val rows = (0 until 10).map { j =>
        val n = 10 * k + j
        (n.toLong, n, s"${pre(k)}$j", u(k),
          ts(f"2024-0${k + 1}-${j + 1}%02d 00:00:00"),
          java.sql.Date.valueOf(f"2024-0${k + 1}-${j + 1}%02d"),
          if (k == 2) None else Some(n + 0.5))
      }
      LayoutOps.commitAppend(rows.toDF(cols: _*), path,
        statsCols = if (k == 3) Nil else cols)
    }
    val c0 = new org.apache.hadoop.fs.Path(
      LayoutOps.manifestEntries(spark, path, 3)._1.head).getName
    Files.write(Paths.get(path, "_v4.manifest"),
      (manifestText(path, 3) + s"\n#stats:$c0:id:num:abc:xyz")
        .getBytes(UTF_8))
    path
  }

  /** (kept, skipped) as positions in the snapshot's directory list. */
  private def split(v: Int, column: String, lo: Any,
      hi: Any): (Seq[Int], Seq[Int]) = {
    val dirs = LayoutOps.manifestEntries(spark, census, v)._1
    val (kept, skipped) =
      LayoutOps.rangeDirs(spark, census, v, column, lo, hi)
    (kept.map(dirs.indexOf), skipped.map(dirs.indexOf))
  }

  test("rangeDirs census: (kept, skipped) per stats kind and bound type") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val cases: Seq[(String, Int, String, Any, Any, (Seq[Int], Seq[Int]))] =
      Seq(
        ("num", 3, "id", 5L, 12L, (Seq(0, 1, 3), Seq(2))),
        ("num, Int bounds", 3, "id", 25, 35, (Seq(2, 3), Seq(0, 1))),
        ("int column, Long bounds", 3, "i", 10L, 12L,
          (Seq(1, 3), Seq(0, 2))),
        ("Double bounds", 3, "x", 11.0, 11.25, (Seq(1, 3), Seq(0, 2))),
        ("BigDecimal bounds", 3, "id", new java.math.BigDecimal("9.5"),
          new java.math.BigDecimal("10.5"), (Seq(1, 3), Seq(0, 2))),
        ("reversed bounds", 3, "id", 5L, 1L, (Seq(0, 3), Seq(1, 2))),
        ("str", 3, "s", "b", "i", (Seq(1, 3), Seq(0, 2))),
        ("supplementary-plane vs U+E000", 3, "u", "\uE001",
          "😁", (Seq(1, 3), Seq(0, 2))),
        ("Timestamp bounds", 3, "ts", ts("2024-02-05 00:00:00"),
          ts("2024-02-06 00:00:00"), (Seq(1, 3), Seq(0, 2))),
        ("Instant bounds", 3, "ts",
          java.time.Instant.parse("2024-01-03T00:00:00Z"),
          java.time.Instant.parse("2024-01-03T00:00:00Z"),
          (Seq(0, 3), Seq(1, 2))),
        ("Date bounds", 3, "d", d("2024-03-02"), d("2024-03-03"),
          (Seq(2, 3), Seq(0, 1))),
        ("LocalDate bounds", 3, "d", java.time.LocalDate.of(2024, 1, 3),
          java.time.LocalDate.of(2024, 1, 4), (Seq(0, 3), Seq(1, 2))),
        ("none kind", 3, "x", 20.0, 30.0, (Seq(3), Seq(0, 1, 2))),
        ("foreign-kind stats (num under str bounds)", 3, "x", "a", "b",
          (Seq(0, 1, 3), Seq(2))),
        ("foreign-kind stats (str under num bounds)", 3, "s", 0L, 5L,
          (Seq(0, 1, 2, 3), Seq())),
        ("no stats line for the column", 3, "nope", 0L, 5L,
          (Seq(0, 1, 2, 3), Seq())),
        ("NaN lower bound", 3, "x", Double.NaN, 1.0,
          (Seq(0, 1, 3), Seq(2))),
        ("NaN bounds", 3, "x", Double.NaN, Double.NaN,
          (Seq(0, 1, 3), Seq(2))),
        ("infinite bound", 3, "x", Double.NegativeInfinity, 5.0,
          (Seq(0, 1, 3), Seq(2))),
        ("unsupported bound type", 3, "x", true, true,
          (Seq(0, 1, 2, 3), Seq())),
        ("bounds of two kinds", 3, "id", 0L, "z", (Seq(0, 1, 2, 3), Seq())),
        ("null bound", 3, "id", null, 5L, (Seq(0, 1, 2, 3), Seq())),
        ("unparseable stats", 4, "id", 100L, 200L, (Seq(0, 3), Seq(1, 2)))
      )
    val got = cases.map { case (name, v, c, lo, hi, _) =>
      name -> split(v, c, lo, hi) }
    val want = cases.map { case (name, _, _, _, _, w) => name -> w }
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("manifest bytes per commit kind: append with txn and stats, " +
      "delete, merge, compaction, overwrite, vacuum fold, mirror") {
    val path = tmp("lakebytes")
    val dst = tmp("lakebytesm")
    LayoutOps.commitAppend((0 until 5).map(i => (i.toLong, s"a$i"))
      .toDF("id", "s"), path, txn = Some("t0"), statsCols = Seq("id"))
    LayoutOps.commitAppend((10 until 15).map(i => (i.toLong, s"b$i"))
      .toDF("id", "s"), path, statsCols = Seq("id", "s"))
    LayoutOps.lakeMirror(spark, path, dst, statsCols = Seq("id"))
    assert(LayoutOps.deleteWhere(spark, path, col("id") < 3L).contains(2))
    assert(LayoutOps.mergeInto(spark, path,
      Seq((11L, "m11"), (20L, "m20")).toDF("id", "s"), "id").contains(3))
    assert(LayoutOps.compactSnapshot(spark, path,
      statsCols = Seq("id")).contains(4))
    assert(LayoutOps.commitOverwrite(Seq((7L, "o7")).toDF("id", "s"), path,
      statsCols = Seq("s")) == 5)
    val before = (0 to 5).map(manifestText(path, _))
    LayoutOps.vacuum(spark, path, keepFrom = 4)
    // masked: roots, each directory's writer nonce, and byte counts
    // (they vary with the number of part files a write happens to make)
    def mask(t: String): String = "(#size:[^:\\n]+):[1-9][0-9]*".r
      .replaceAllIn("(v[0-9]+[a-z]?)-[0-9a-f]+".r.replaceAllIn(
        t.replace(path, "<lake>").replace(dst, "<mirror>"), "$1-*"), "$1:B")
    val got = (before :+ manifestText(path, 6) :+ manifestText(dst, 0))
      .map(mask)
    val want = Seq(
      "#txn:t0\n<lake>/files/v0-*\n#stats:v0-*:id:num:0:4\n#size:v0-*:B",
      "<lake>/files/v0-*\n#stats:v0-*:id:num:0:4\n#size:v0-*:B\n<lake>/files/v1-*\n#stats:v1-*:id:num:10:14\n#stats:v1-*:s:str:b10:b14\n#size:v1-*:B",
      "<lake>/files/v1-*\n#stats:v1-*:id:num:10:14\n#stats:v1-*:s:str:b10:b14\n#size:v1-*:B\n<lake>/files/v2d-*\n#stats:v2d-*:id:num:3:4\n#stats:v2d-*:s:str:a3:a4\n#size:v2d-*:B",
      "<lake>/files/v2d-*\n#stats:v2d-*:id:num:3:4\n#stats:v2d-*:s:str:a3:a4\n#size:v2d-*:B\n<lake>/files/v3m-*\n#stats:v3m-*:id:num:10:20\n#stats:v3m-*:s:str:b10:m20\n#size:v3m-*:B",
      "<lake>/files/v4c-*\n#stats:v4c-*:id:num:3:20\n#size:v4c-*:B",
      "<lake>/files/v5-*\n#stats:v5-*:s:str:o7:o7\n#size:v5-*:B",
      "#txn:t0\n<lake>/files/v5-*\n#stats:v5-*:s:str:o7:o7\n#size:v5-*:B",
      "#txn:mirror1\n<mirror>/files/v0-*\n#stats:v0-*:id:num:0:14\n#size:v0-*:B")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"manifest $i") }
    assert(got.size == want.size)
  }

  test("every snapshot reader resolves columns by the newest commit's " +
      "footer: readVersion, readVersionIndexed and readVersionRange at " +
      "any bounds") {
    val path = tmp("lakefooter")
    LayoutOps.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path,
      statsCols = Seq("id"))
    LayoutOps.commitAppend(Seq((10L, "c", 0.5)).toDF("id", "s", "score"),
      path, statsCols = Seq("id"))
    val want = Seq("id", "s", "score")
    def cols(df: org.apache.spark.sql.DataFrame) = df.columns.toSeq
    assert(cols(LayoutOps.readVersion(spark, path, 1)) == want)
    assert(cols(LayoutOps.readVersionIndexed(spark, path, 1)) == want)
    // keeps v0 only, both, v1 only, nothing
    Seq((0L, 5L), (0L, 20L), (5L, 20L), (100L, 200L)).foreach {
      case (lo, hi) =>
        assert(cols(LayoutOps.readVersionRange(spark, path, 1, "id",
          lo, hi)) == want, s"readVersionRange $lo..$hi")
    }
    val rows = LayoutOps.readVersion(spark, path, 1).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)))).toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", None),
      (10L, "c", Some(0.5))))
    assert(LayoutOps.readVersionRange(spark, path, 1, "id", 0L, 5L)
      .where(col("score").isNull).count() == 2)
  }

  test("a directory whose max is NaN is pruned by its finite min, by " +
      "rangeDirs and the planner alike") {
    val path = tmp("lakenan")
    LayoutOps.commitAppend(Seq(5.0, Double.NaN).toDF("x"), path,
      statsCols = Seq("x"))
    assert(LayoutOps.manifestEntries(spark, path, 0)._2(
      (new org.apache.hadoop.fs.Path(LayoutOps.manifestEntries(spark, path,
        0)._1.head).getName, "x")) == (("num", "5.0", "NaN")))
    assert(LayoutOps.rangeDirs(spark, path, 0, "x", 0.0, 1.0)._2.size == 1)
    val (df, idx) = LayoutOps.indexedRead(spark, path, 0)
    assert(df.where(col("x").between(0.0, 1.0)).count() == 0)
    assert(idx.lastPruning == ((0, 1)))
    // NaN sorts above every number: the NaN row is inside this range
    assert(LayoutOps.rangeDirs(spark, path, 0, "x", 1.0, Double.NaN)
      ._1.size == 1)
    assert(LayoutOps.readVersionRange(spark, path, 0, "x", 1.0, Double.NaN)
      .count() == 2)
  }

  test("pre-1582 timestamp and date stats prune by the value the " +
      "filter compares") {
    val path = tmp("lakejulian")
    LayoutOps.commitAppend((10 to 12).map(j =>
      (ts(f"1500-01-$j%02d 00:00:00"),
        java.sql.Date.valueOf(f"1500-01-$j%02d"))).toDF("t", "d"), path,
      statsCols = Seq("t", "d"))
    Seq("t" -> ts("1500-01-11 00:00:00"),
        "d" -> java.sql.Date.valueOf("1500-01-11")).foreach { case (c, v) =>
      assert(LayoutOps.readVersionIndexed(spark, path, 0)
        .where(col(c) === lit(v)).count() == 1, c)
      assert(LayoutOps.readVersionRange(spark, path, 0, c, v, v)
        .count() == 1, c)
    }
  }
}
